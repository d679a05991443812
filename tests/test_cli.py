"""CLI shell: the resident scheduler and maintenance verbs as a
process entry point (reference parity: scheduler_clickhouse.py run
as a host process)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from binancedatapipeline_spark import catalog, cli
from binancedatapipeline_spark.warehouse import Warehouse
from trainingdata_spark import cli as suite_cli


@pytest.fixture()
def wh_root(tmp_path):
    return str(tmp_path / "wh")


def test_update_populates_all_standard_tables(spark, wh_root):
    lines = []
    rc = cli.main(
        ["--warehouse", wh_root, "--symbols", "BTCUSDT", "update"],
        spark=spark,
        out=lines.append,
    )
    assert rc == 0
    wh = Warehouse(spark, wh_root)
    for spec in (
        catalog.BN_SPOT_SYMBOLS,
        catalog.BN_PERP_SYMBOLS,
        catalog.BN_SPOT_KLINES,
        catalog.BN_PERP_KLINES,
        catalog.BN_FUNDING_RATES,
    ):
        assert wh.read(spec).count() > 0, spec.name
    # dims ordered before facts in the tick output
    names = [ln.split(":")[0] for ln in lines if ln and not ln.startswith("[")]
    assert names.index("bn_spot_symbols") < names.index("bn_spot_klines")
    # perp dim got its synthetic onboard_date (extreme_cases needs it)
    perp = wh.read(catalog.BN_PERP_SYMBOLS)
    assert perp.filter(F.col("onboard_date").isNull()).count() == 0


def test_update_then_watermark_and_validate(spark, wh_root):
    lines = []
    assert cli.main(
        ["--warehouse", wh_root, "--symbols", "BTCUSDT", "update"],
        spark=spark, out=lines.append,
    ) == 0
    lines.clear()
    cli.main(
        ["--warehouse", wh_root, "watermark", "--table", "bn_spot_klines"],
        spark=spark, out=lines.append,
    )
    assert lines and "None" not in lines[0]
    # synthetic bars are gap-free → validate exits 0
    rc = cli.main(
        ["--warehouse", wh_root, "validate", "--table", "bn_spot_klines"],
        spark=spark, out=lines.append,
    )
    assert rc == 0


def test_update_is_incremental_and_idempotent(spark, wh_root):
    cli.main(["--warehouse", wh_root, "--symbols", "ETHUSDT", "update"],
             spark=spark, out=lambda s: None)
    wh = Warehouse(spark, wh_root)
    n1 = wh.read(catalog.BN_SPOT_KLINES).count()
    # second tick replays the lookback window: no duplicate PKs
    cli.main(["--warehouse", wh_root, "--symbols", "ETHUSDT", "update"],
             spark=spark, out=lambda s: None)
    out = wh.read(catalog.BN_SPOT_KLINES)
    assert out.count() >= n1
    pks = out.groupBy("symbol", "exchange", "timestamp").count()
    assert pks.filter(F.col("count") > 1).count() == 0


def test_vacuum_and_maintain_verbs(spark, wh_root):
    cli.main(["--warehouse", wh_root, "--symbols", "BTCUSDT", "update"],
             spark=spark, out=lambda s: None)
    lines = []
    assert cli.main(
        ["--warehouse", wh_root, "maintain", "--table", "bn_spot_klines"],
        spark=spark, out=lines.append,
    ) == 0
    assert "partitions_compacted" in lines[0]
    lines.clear()
    assert cli.main(
        ["--warehouse", wh_root, "vacuum", "--table", "bn_spot_klines", "--full"],
        spark=spark, out=lines.append,
    ) == 0
    assert "removed" in lines[0]


def test_rollback_verb_restores_previous_version(spark, wh_root):
    lines = []
    assert cli.main(
        ["--warehouse", wh_root, "--symbols", "BTCUSDT", "update"],
        spark=spark, out=lines.append,
    ) == 0
    wh = Warehouse(spark, wh_root)
    spec = catalog.BN_SPOT_KLINES
    before = sorted(tuple(r) for r in wh.read(spec).collect())
    # second tick publishes a new version (even if value-identical,
    # the manifest advances) — corrupt it so the rollback is visible
    bad = wh.read(spec).withColumn("close", F.lit(-1.0))
    wh.upsert(spec, bad)
    assert wh.read(spec).filter(F.col("close") == -1.0).count() > 0
    rc = cli.main(
        ["--warehouse", wh_root, "rollback", "--table", "bn_spot_klines"],
        spark=spark, out=lines.append,
    )
    assert rc == 0
    assert sorted(tuple(r) for r in wh.read(spec).collect()) == before


def test_fit_langid_verb_persists_loadable_model(spark, wh_root, tmp_path):
    """Round 11: the fit-langid verb fits profiles from a labeled
    corpus and persists them through the models seam; the saved model
    loads back and classifies."""
    from trainingdata_spark import models
    from trainingdata_spark.textops.langid import classify_language

    corpus = str(tmp_path / "labeled")
    spark.createDataFrame(
        [("en", "the quick brown fox jumps over the lazy dog near the river"),
         ("es", "el rapido zorro marron salta sobre el perro perezoso junto")],
        ["lang", "text"],
    ).write.parquet(corpus)
    model_dir = str(tmp_path / "langid_model")
    lines = []
    rc = suite_cli.main(
        ["--warehouse", wh_root, "fit-langid", "--corpus", corpus,
         "--out", model_dir, "--top-k", "100"],
        spark=spark,
        out=lines.append,
    )
    assert rc == 0
    assert any("profile rows saved" in l for l in lines)
    lp = models.load_language_profiles(spark, model_dir, collected=True)
    docs = spark.createDataFrame(
        [(1, "the dog jumps over the brown fox"),
         (2, "el perro salta sobre el zorro marron")],
        ["doc_id", "text"],
    )
    got = {r["doc_id"]: r["lang_id"] for r in classify_language(docs, lp).collect()}
    assert got == {1: "en", 2: "es"}
    # immutable by default: a second fit without --overwrite fails
    with pytest.raises(Exception):
        suite_cli.main(
            ["--warehouse", wh_root, "fit-langid", "--corpus", corpus,
             "--out", model_dir],
            spark=spark,
            out=lines.append,
        )


def test_fit_quality_verb_persists_loadable_classifier(spark, wh_root, tmp_path):
    """Round 11: fit-quality trains the supervised filter from labeled
    parquet corpora and persists it through the seam; the stored
    classifier loads back and separates held-out docs."""
    import random

    from trainingdata_spark import models
    from trainingdata_spark.textops.quality_clf import score_quality

    rng = random.Random(7)
    good = ["science", "method", "theory", "evidence", "study", "analysis"]
    bad = ["click", "free", "winner", "casino", "pills", "offer"]
    doc = lambda v: " ".join(rng.choice(v) for _ in range(20))
    pos = str(tmp_path / "pos")
    neg = str(tmp_path / "neg")
    spark.createDataFrame(
        [(f"p{i}", doc(good)) for i in range(60)], ["doc_id", "text"]
    ).write.parquet(pos)
    spark.createDataFrame(
        [(f"n{i}", doc(bad)) for i in range(60)], ["doc_id", "text"]
    ).write.parquet(neg)
    model_dir = str(tmp_path / "clf_model")
    lines = []
    rc = suite_cli.main(
        ["--warehouse", wh_root, "fit-quality", "--positive", pos,
         "--negative", neg, "--out", model_dir,
         "--num-features", str(1 << 10), "--max-iter", "10"],
        spark=spark, out=lines.append,
    )
    assert rc == 0
    assert any("saved to" in l for l in lines)
    clf = models.load_quality_classifier(spark, model_dir)
    hold = spark.createDataFrame(
        [("g", doc(good)), ("b", doc(bad))], ["doc_id", "text"]
    )
    probs = {r["doc_id"]: r["quality_prob"]
             for r in score_quality(hold, clf).collect()}
    assert probs["g"] > 0.5 > probs["b"]
    with pytest.raises(Exception):
        suite_cli.main(
            ["--warehouse", wh_root, "fit-quality", "--positive", pos,
             "--negative", neg, "--out", model_dir],
            spark=spark, out=lines.append,
        )


def test_fit_bpe_verb_persists_ordered_merges(spark, wh_root, tmp_path):
    """Round 11: fit-bpe learns merges once and persists the ordered
    list; loading gives back the exact train_bpe result."""
    from trainingdata_spark import models
    from trainingdata_spark.textops.bpe import train_bpe

    corpus = str(tmp_path / "bpe_corpus")
    df = spark.createDataFrame(
        [(i, "low lower lowest newer newest wide wider widest") for i in range(8)],
        ["doc_id", "text"],
    )
    df.write.parquet(corpus)
    model_dir = str(tmp_path / "bpe_model")
    lines = []
    rc = suite_cli.main(
        ["--warehouse", wh_root, "fit-bpe", "--corpus", corpus,
         "--out", model_dir, "--num-merges", "20"],
        spark=spark, out=lines.append,
    )
    assert rc == 0
    assert any("merges saved" in l for l in lines)
    loaded = models.load_bpe_merges(spark, model_dir)
    expected = train_bpe(df, num_merges=20)
    assert loaded == expected


def test_fit_register_and_model_verb_roundtrip(spark, wh_root, tmp_path):
    """Round 11: --register records the fitted artifact in the
    warehouse model_registry; the model verb resolves it by name
    (latest version) and lists the registry."""
    corpus = str(tmp_path / "labeled2")
    spark.createDataFrame(
        [("en", "the quick brown fox jumps over the lazy dog near the river"),
         ("es", "el rapido zorro marron salta sobre el perro perezoso junto")],
        ["lang", "text"],
    ).write.parquet(corpus)
    lines = []
    rc = suite_cli.main(
        ["--warehouse", wh_root, "fit-langid", "--corpus", corpus,
         "--out", str(tmp_path / "m1"), "--register", "langid"],
        spark=spark, out=lines.append,
    )
    assert rc == 0 and any("registered langid v1" in l for l in lines)
    rc = suite_cli.main(
        ["--warehouse", wh_root, "fit-langid", "--corpus", corpus,
         "--out", str(tmp_path / "m2"), "--register", "langid"],
        spark=spark, out=lines.append,
    )
    assert rc == 0 and any("registered langid v2" in l for l in lines)

    lines.clear()
    rc = suite_cli.main(
        ["--warehouse", wh_root, "model", "--name", "langid"],
        spark=spark, out=lines.append,
    )
    assert rc == 0
    assert any("langid v2" in l and str(tmp_path / "m2") in l for l in lines)

    lines.clear()
    rc = suite_cli.main(["--warehouse", wh_root, "model"], spark=spark,
                  out=lines.append)
    assert rc == 0
    assert any("2 registration(s)" in l for l in lines)


def test_fit_ivf_verb_sampled_and_distributed(spark, wh_root, tmp_path):
    """Round 11: fit-ivf persists centroids from either trainer; the
    loaded artifact is unit-norm with the requested geometry and
    registers like every other model."""
    import numpy as np

    from trainingdata_spark import models

    rng = np.random.default_rng(3)
    rows = []
    for i in range(120):
        v = np.zeros(16)
        v[4 * (i % 4)] = 4.0
        v += rng.standard_normal(16) * 0.2
        v /= np.linalg.norm(v)
        rows.append((i, [float(x) for x in v]))
    corpus = str(tmp_path / "emb")
    spark.createDataFrame(rows, "vec_id long, embedding array<float>").write.parquet(corpus)

    lines = []
    for flag, out_dir in ((False, "ivf_s"), (True, "ivf_d")):
        argv = ["--warehouse", wh_root, "fit-ivf", "--corpus", corpus,
                "--out", str(tmp_path / out_dir), "--n-cells", "4",
                "--register", "ivf-main"]
        if flag:
            argv.append("--distributed")
        rc = suite_cli.main(argv, spark=spark, out=lines.append)
        assert rc == 0
        cent = models.load_ivf_centroids(spark, str(tmp_path / out_dir))
        assert cent.shape == (4, 16)
        assert np.allclose(np.linalg.norm(cent, axis=1), 1.0, atol=1e-9)
    assert any("registered ivf-main v2" in l for l in lines)
    from binancedatapipeline_spark.warehouse import Warehouse

    cur = models.resolve_model(Warehouse(spark, wh_root), "ivf-main")
    assert cur["version"] == 2 and cur["model_kind"] == "ivf_centroids"
