"""Trained quality classification — the fastText-style document
filter of a training-data pipeline (the public CCNet / LLaMA recipe:
a linear classifier over hashed bag-of-n-gram features separates
"reference-quality" text from crawl junk).

Spark-native end to end:

- features are hashed uni+bigram term frequencies (``HashingTF`` —
  JVM MurmurHash3, no Python in the loop);
- the model is ``pyspark.ml`` logistic regression: distributed
  L-BFGS over the executors, so the fit itself scales with the
  labeled corpus;
- scoring is ``model.transform`` — whole-stage-codegen'd JVM
  prediction, a pure map stage over 100 TB.

This complements :mod:`textops.dsir` (distribution-matching
selection, no labels) with the supervised filter (labeled
good/bad examples); real pipelines run both.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from trainingdata_spark.textops.analysis import tokens_col
from trainingdata_spark.textops.dedup import _shingle_array

DEFAULT_FEATURES = 1 << 18


@dataclass
class QualityClassifier:
    """The trained filter: the pyspark.ml LR model plus the
    featurization it was fit with (hash width, n-gram order, text
    column) — the parameters ``score_quality`` needs to rebuild the
    EXACT training-time features. A bare LogisticRegressionModel
    can't carry these through ``save()``/``load()`` (private
    attributes don't persist), which broke the normal
    train-once/score-many deployment; this wrapper persists both
    halves (pyspark.ml writer for the model, a one-row JSON relation
    for the params — both go through the Hadoop FS, so the path can
    be local, HDFS or object storage alike)."""

    model: object  # pyspark.ml LogisticRegressionModel
    num_features: int
    n_max: int
    text_col: str

    KIND = "quality_classifier"

    def save(self, path: str, overwrite: bool = False) -> dict:
        """Persist under the :mod:`trainingdata_spark.models` seam layout:
        ``<path>/lr`` (the pyspark.ml writer — this artifact's natural
        form is an ml model dir, not a ``data/`` parquet relation) plus
        the standard kind-checked ``model.json`` sidecar carrying the
        featurization params. Sidecar is written LAST (manifest-last
        commit order), and save is immutable-artifact like every other
        ``save_*``: fails if the path already holds a model unless
        ``overwrite=True``."""
        from trainingdata_spark import models

        # getActiveSession() can be None off the driver thread; fall
        # back to the builder's singleton
        spark = SparkSession.getActiveSession() or SparkSession.builder.getOrCreate()
        fs, _ = models._fs(spark, path)
        sidecar = spark._jvm.org.apache.hadoop.fs.Path(path, models.META)
        if fs.exists(sidecar) and not overwrite:
            raise FileExistsError(
                f"QualityClassifier.save: {path} already holds a saved "
                "model (pass overwrite=True to replace)"
            )
        writer = self.model.write()
        if overwrite:
            writer = writer.overwrite()
        writer.save(f"{path}/lr")
        meta = {
            "format_version": models.FORMAT_VERSION,
            "kind": self.KIND,
            "params": {
                "num_features": int(self.num_features),
                "n_max": int(self.n_max),
                "text_col": self.text_col,
            },
        }
        models._write_meta(spark, path, meta)
        return meta

    @classmethod
    def load(cls, spark: SparkSession, path: str) -> "QualityClassifier":
        """Validates the sidecar's kind/format before trusting the ml
        dir (loading e.g. a langid-profile path here fails loudly, not
        as an opaque ml reader error). Artifacts saved by the pre-seam
        layout (``meta/`` JSON dir, no sidecar) still load."""
        from pyspark.ml.classification import LogisticRegressionModel

        from trainingdata_spark import models

        try:
            meta = models._read_meta(spark, path)
        except FileNotFoundError:
            # pre-seam layout: params in a meta/ JSON relation
            fs, _ = models._fs(spark, path)
            legacy = spark._jvm.org.apache.hadoop.fs.Path(path, "meta")
            if not fs.exists(legacy):
                raise FileNotFoundError(
                    f"QualityClassifier.load: {path} holds neither a "
                    f"{models.META} sidecar nor a pre-seam meta/ dir — "
                    "not a saved quality classifier"
                )
            row = spark.read.json(f"{path}/meta").first()
            params = {
                "num_features": int(row["num_features"]),
                "n_max": int(row["n_max"]),
                "text_col": row["text_col"],
            }
        else:
            if meta.get("kind") != cls.KIND:
                raise ValueError(
                    f"QualityClassifier.load: {path} holds a "
                    f"{meta.get('kind')!r} model, expected {cls.KIND!r}"
                )
            if int(meta.get("format_version", -1)) > models.FORMAT_VERSION:
                raise ValueError(
                    f"QualityClassifier.load: {path} was written by a newer "
                    f"format (v{meta['format_version']} > v{models.FORMAT_VERSION})"
                )
            params = meta["params"]
        model = LogisticRegressionModel.load(f"{path}/lr")
        return cls(
            model=model,
            num_features=int(params["num_features"]),
            n_max=int(params["n_max"]),
            text_col=params["text_col"],
        )


def _with_grams(df: DataFrame, text_col: str, n_max: int) -> DataFrame:
    """Add ``__grams``: uni..n_max-gram strings (with multiplicity),
    empty grams dropped — the shared feature text for TF hashing."""
    tmp = df.withColumn("__toks", tokens_col(F.col(text_col)))
    grams = None
    for n in range(1, n_max + 1):
        part = _shingle_array(n, "__toks")
        grams = part if grams is None else F.concat(grams, part)
    grams = F.filter(grams, lambda g: g != "")
    return tmp.withColumn("__grams", grams).drop("__toks")


def train_quality_classifier(
    positive: DataFrame,
    negative: DataFrame,
    text_col: str = "text",
    n_max: int = 2,
    num_features: int = DEFAULT_FEATURES,
    reg_param: float = 1e-4,
    max_iter: int = 50,
):
    """Fit the filter from labeled examples: ``positive`` =
    reference-quality documents (the classic choice: Wikipedia/books),
    ``negative`` = raw-crawl junk. Returns a fitted model for
    :func:`score_quality`.

    The labeled set is normally tiny next to the corpus being
    filtered (10⁴–10⁶ rows), but nothing here requires that — both
    the TF hash and the L-BFGS fit are distributed."""
    from pyspark.ml.classification import LogisticRegression
    from pyspark.ml.feature import HashingTF

    cols = [text_col]
    labeled = positive.select(*cols).withColumn(
        "label", F.lit(1.0)
    ).unionByName(negative.select(*cols).withColumn("label", F.lit(0.0)))
    feats = _with_grams(labeled, text_col, n_max)
    tf = HashingTF(
        inputCol="__grams", outputCol="features", numFeatures=num_features
    )
    lr = LogisticRegression(
        featuresCol="features",
        labelCol="label",
        regParam=reg_param,
        maxIter=max_iter,
    )
    model = lr.fit(tf.transform(feats))
    # carry the featurization WITH the model so scoring can't drift
    # from training — and so it survives save()/load()
    return QualityClassifier(
        model=model, num_features=num_features, n_max=n_max, text_col=text_col
    )


def score_quality(
    df: DataFrame,
    model,
    text_col: str | None = None,
    output_col: str = "quality_prob",
) -> DataFrame:
    """Add ``output_col``: P(quality) per document — a pure JVM map
    stage (hash TF → dot product → sigmoid), no shuffle, no UDF.
    Null/empty text scores the model's intercept prior.

    The ML pipeline's working columns (``features``, ``probability``,
    ``rawPrediction``, ``prediction``) are claimed during scoring and
    dropped afterwards — an input that already carries a column with
    one of those names is rejected rather than silently clobbered."""
    reserved = {"features", "probability", "rawPrediction", "prediction"}
    clash = reserved & set(df.columns)
    if clash:
        raise ValueError(
            f"input columns {sorted(clash)} collide with the scorer's "
            "working columns; rename them before score_quality"
        )
    from pyspark.ml.feature import HashingTF
    from pyspark.ml.functions import vector_to_array

    clf = model if isinstance(model, QualityClassifier) else None
    if clf is None:  # pre-wrapper model objects (round-6 API)
        clf = QualityClassifier(
            model=model,
            num_features=model._graft_tf.getNumFeatures(),
            n_max=model._graft_n_max,
            text_col=model._graft_text_col,
        )
    text_col = text_col or clf.text_col
    feats = _with_grams(
        df.withColumn("__text", F.coalesce(F.col(text_col), F.lit(""))),
        "__text",
        clf.n_max,
    )
    # HashingTF is stateless given its width — rebuilding it here is
    # bit-identical to the training featurizer
    tf = HashingTF(
        inputCol="__grams", outputCol="features", numFeatures=clf.num_features
    )
    scored = clf.model.transform(tf.transform(feats))
    return scored.withColumn(
        output_col, vector_to_array(F.col("probability"))[1]
    ).drop(
        "__text", "__grams", "features", "rawPrediction", "probability",
        "prediction",
    )


def quality_filter(
    df: DataFrame,
    model,
    threshold: float = 0.5,
    text_col: str | None = None,
    keep_score: bool = True,
) -> DataFrame:
    """Keep documents with P(quality) ≥ threshold. The score is a
    per-row expression, so the filter composes with pushdown and
    costs one map pass over the corpus."""
    out = score_quality(df, model, text_col)
    out = out.filter(F.col("quality_prob") >= threshold)
    return out if keep_score else out.drop("quality_prob")
