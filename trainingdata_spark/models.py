"""Persistence seam for fitted model artifacts — fitted models are
DERIVED TABLES, the reference's own pattern for computed state it
wants to reuse instead of refit (reference: duckdb.py:1416-1435 writes
the bn_premium derivation back as a table other jobs read).

Before this seam every production job refit its models per run:
language-ID profiles (a full corpus aggregation — about half of the
heaviest registry query), BPE merge ranks (a corpus word-count +
driver merge loop), the unigram LM, DSIR log-ratios, SQ min/scale
params, IVF centroids, PQ/OPQ codebooks, and the trained quality
classifier (whose data half is a pyspark.ml writer dir instead of a
parquet relation — same sidecar, see the wrappers at the bottom).
Each artifact is a bounded relation or small matrix by construction,
so each round-trips through ONE parquet table plus a tiny JSON
sidecar:

    <path>/model.json   kind, format version, fit params (the sidecar
                        a loader validates against before trusting
                        the rows)
    <path>/data/        the artifact itself as parquet, in each
                        model's natural tabular form

All storage access goes through the Hadoop FS seam (same discipline as
warehouse.py / textops/export.py), so the same call persists to local
disk, HDFS, or an object store; the parquet side is written by Spark,
so a warehouse-managed path (``wh.path("langid_profiles_v3")``) works
as well as a plain directory. Doubles round-trip exactly (parquet
FLOAT8), so a loaded model is bit-identical to the fitted one — every
``load_*`` below is pinned by a loaded-equals-fitted behavioral test
in tests/test_models.py (classification, encoding, scoring identical).

Save semantics are immutable-artifact: ``save_*`` fails if the path
already holds data (version by path — ``.../langid/2026-08-16``);
pass ``overwrite=True`` to explicitly replace.
"""

from __future__ import annotations

import json
import uuid

import numpy as np

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from binancedatapipeline_spark.catalog import TableSpec

FORMAT_VERSION = 1
META = "model.json"
_DATA = "data"

# name -> versioned artifact path, kept as a warehouse table so every
# job resolves the same fitted model (register_model / resolve_model)
MODEL_REGISTRY = TableSpec(
    name="model_registry",
    primary_keys=("model_name", "version"),
    schema=T.StructType(
        [
            T.StructField("model_name", T.StringType()),
            T.StructField("version", T.LongType()),
            T.StructField("path", T.StringType()),
            T.StructField("model_kind", T.StringType()),
            T.StructField("params_json", T.StringType()),
            T.StructField("registered_at", T.TimestampType()),
        ]
    ),
    kind="derived",
    needs_incremental=False,
)


# --------------------------------------------------------------- core

def _fs(spark: SparkSession, path: str):
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    return jpath.getFileSystem(spark._jsc.hadoopConfiguration()), jpath


def _write_meta(spark: SparkSession, path: str, meta: dict) -> None:
    """Atomic (create-temp-then-rename) sidecar write, after the data
    is already down — a reader that sees model.json sees a complete
    artifact, the manifest-last commit order the warehouse uses."""
    fs, _ = _fs(spark, path)
    jvm = spark._jvm
    tmp = jvm.org.apache.hadoop.fs.Path(path, f".{META}.tmp-{uuid.uuid4().hex[:8]}")
    dst = jvm.org.apache.hadoop.fs.Path(path, META)
    stream = fs.create(tmp, True)
    try:
        stream.write(bytearray(json.dumps(meta, sort_keys=True).encode("utf-8")))
    finally:
        stream.close()
    if fs.exists(dst):
        fs.delete(dst, False)
    if not fs.rename(tmp, dst):
        raise IOError(f"save_model: meta rename failed: {dst}")


def _read_meta(spark: SparkSession, path: str) -> dict:
    fs, _ = _fs(spark, path)
    src = spark._jvm.org.apache.hadoop.fs.Path(path, META)
    if not fs.exists(src):
        raise FileNotFoundError(f"{path} is not a saved model (no {META})")
    stream = fs.open(src)
    try:
        data = bytes(spark._jvm.org.apache.commons.io.IOUtils.toByteArray(stream))
    finally:
        stream.close()
    return json.loads(data.decode("utf-8"))


def save_model(
    df: DataFrame, path: str, kind: str, params: dict | None = None,
    overwrite: bool = False,
) -> dict:
    """Persist a fitted relation as ``<path>/data`` parquet +
    ``<path>/model.json``; returns the meta dict. The typed wrappers
    below are the intended API — this is the shared engine (and the
    extension point for a new artifact kind)."""
    mode = "overwrite" if overwrite else "error"
    df.write.mode(mode).parquet(f"{path.rstrip('/')}/{_DATA}")
    meta = {
        "format_version": FORMAT_VERSION,
        "kind": kind,
        "params": params or {},
    }
    _write_meta(df.sparkSession, path, meta)
    return meta


def load_model(spark: SparkSession, path: str, expected_kind: str) -> tuple[DataFrame, dict]:
    """(data DataFrame, meta) — validates the sidecar's kind and format
    version before the rows are trusted, so loading the wrong artifact
    into the wrong consumer fails loudly at load time, not as silent
    garbage downstream."""
    meta = _read_meta(spark, path)
    if meta.get("kind") != expected_kind:
        raise ValueError(
            f"load_model: {path} holds a {meta.get('kind')!r} model, "
            f"expected {expected_kind!r}"
        )
    if int(meta.get("format_version", -1)) > FORMAT_VERSION:
        raise ValueError(
            f"load_model: {path} was written by a newer format "
            f"(v{meta['format_version']} > v{FORMAT_VERSION})"
        )
    return spark.read.parquet(f"{path.rstrip('/')}/{_DATA}"), meta


# -------------------------------------------------- language profiles

def save_language_profiles(profiles: DataFrame, path: str, overwrite: bool = False) -> dict:
    """Persist a ``train_language_profiles`` fit — ``(lang, gram,
    rank)``, ≤ languages × top_k rows. The heaviest refit in the
    package (one full corpus aggregation) becomes a dim-sized read."""
    return save_model(
        profiles.select("lang", "gram", F.col("rank").cast("int").alias("rank")),
        path, "langid_profiles", overwrite=overwrite,
    )


def load_language_profiles(spark: SparkSession, path: str, collected: bool = False):
    """The fitted profile relation back, as the DataFrame every
    classify entry point accepts — or, with ``collected=True``, as the
    pre-collected rows ``collect_profiles`` would produce (the form to
    hand into a ``foreachBatch`` closure / ``curate(lang_profiles=...)``
    so no training lineage rides into the stream; a STORED profile read
    costs one dim-sized parquet scan either way)."""
    df, _ = load_model(spark, path, "langid_profiles")
    if not collected:
        return df
    from trainingdata_spark.textops.langid import collect_profiles
    return collect_profiles(df)


# --------------------------------------------------------- BPE merges

def save_bpe_merges(
    spark: SparkSession, merges: list, path: str, overwrite: bool = False
) -> dict:
    """Persist a ``train_bpe`` merge list — order IS the model (merge
    priority), kept as an explicit ``ord`` column."""
    df = spark.createDataFrame(
        [(i, a, b) for i, (a, b) in enumerate(merges)],
        "ord int, a string, b string",
    )
    return save_model(df, path, "bpe_merges", params={"num_merges": len(merges)},
                      overwrite=overwrite)


def load_bpe_merges(spark: SparkSession, path: str) -> list[tuple[str, str]]:
    """The ordered merge list back, exactly as ``train_bpe`` returned
    it — feed straight into ``apply_bpe`` / ``bpe_vocab``."""
    df, _ = load_model(spark, path, "bpe_merges")
    return [(r["a"], r["b"]) for r in df.orderBy("ord").collect()]


# --------------------------------------------------------- unigram LM

def save_unigram_model(
    model: DataFrame, path: str, smoothing: float = 0.5, overwrite: bool = False
) -> dict:
    """Persist a ``unigram_model`` fit — ``(token, n, logp)`` plus the
    smoothing constant the fit used (the OOV floor is recovered from
    n/count/smoothing at score time, so the scorer needs the SAME k
    the trainer used; storing it next to the rows removes the silent
    mismatch)."""
    return save_model(
        model.select("token", F.col("n").cast("long").alias("n"), "logp"),
        path, "unigram_lm", params={"smoothing": float(smoothing)},
        overwrite=overwrite,
    )


def load_unigram_model(spark: SparkSession, path: str) -> tuple[DataFrame, float]:
    """(model DataFrame, smoothing) — pass both to
    ``score_documents(df, model, smoothing=smoothing)``."""
    df, meta = load_model(spark, path, "unigram_lm")
    return df, float(meta["params"]["smoothing"])


# ------------------------------------------------------- DSIR ratios

def save_dsir_ratio(
    spark: SparkSession, pairs, default_log_ratio: float, path: str,
    buckets: int | None = None, overwrite: bool = False,
) -> dict:
    """Persist a ``fit_log_ratio`` result — ``(bucket, log_ratio)``
    pairs plus the OOB default and the bucket count, everything
    ``score_importance`` needs to rebuild its literal scoring plan
    with zero cluster work."""
    rows = []
    for p in pairs:
        if isinstance(p, dict):
            rows.append((int(p["bucket"]), float(p["log_ratio"])))
        elif hasattr(p, "__fields__"):  # Row
            rows.append((int(p["bucket"]), float(p["log_ratio"])))
        else:
            b, r = p
            rows.append((int(b), float(r)))
    df = spark.createDataFrame(rows, "bucket long, log_ratio double")
    return save_model(
        df, path, "dsir_ratio",
        params={"default_log_ratio": float(default_log_ratio),
                "buckets": None if buckets is None else int(buckets)},
        overwrite=overwrite,
    )


def load_dsir_ratio(spark: SparkSession, path: str) -> tuple[list, float]:
    """(pairs, default) in ``fit_log_ratio``'s return shape — feed
    straight into ``score_importance(df, pairs, default)``."""
    df, meta = load_model(spark, path, "dsir_ratio")
    pairs = [(int(r["bucket"]), float(r["log_ratio"]))
             for r in df.orderBy("bucket").collect()]
    return pairs, float(meta["params"]["default_log_ratio"])


# --------------------------------------------------------- SQ params

def save_sq_params(
    spark: SparkSession, params: tuple, path: str, overwrite: bool = False
) -> dict:
    """Persist a ``train_sq_params`` fit — one row per dimension."""
    mins, scales = params
    df = spark.createDataFrame(
        [(d, float(mn), float(sc)) for d, (mn, sc) in enumerate(zip(mins, scales))],
        "d int, min double, scale double",
    )
    return save_model(df, path, "sq_params", params={"dim": len(mins)},
                      overwrite=overwrite)


def load_sq_params(spark: SparkSession, path: str) -> tuple[list[float], list[float]]:
    df, meta = load_model(spark, path, "sq_params")
    dim = int(meta["params"]["dim"])
    mins, scales = [0.0] * dim, [0.0] * dim
    for r in df.collect():
        mins[r["d"]] = float(r["min"])
        scales[r["d"]] = float(r["scale"])
    return mins, scales


# -------------------------------------------- IVF / PQ / OPQ matrices

def save_ivf_centroids(
    spark: SparkSession, centroids: np.ndarray, path: str, overwrite: bool = False
) -> dict:
    """Persist a ``train_ivf_centroids`` fit — one row per cell."""
    c = np.asarray(centroids, dtype=np.float64)
    df = spark.createDataFrame(
        [(i, [float(x) for x in row]) for i, row in enumerate(c)],
        "cell int, vec array<double>",
    )
    return save_model(df, path, "ivf_centroids",
                      params={"n_cells": int(c.shape[0]), "dim": int(c.shape[1])},
                      overwrite=overwrite)


def load_ivf_centroids(spark: SparkSession, path: str) -> np.ndarray:
    df, meta = load_model(spark, path, "ivf_centroids")
    p = meta["params"]
    out = np.zeros((int(p["n_cells"]), int(p["dim"])), dtype=np.float64)
    for r in df.collect():
        out[r["cell"]] = r["vec"]
    return out


def save_pq_codebooks(
    spark: SparkSession, codebooks: np.ndarray, path: str, overwrite: bool = False
) -> dict:
    """Persist ``train_pq_codebooks`` / ``train_pq_codebooks_residual``
    output — one row per (subspace, code). The same kind covers plain
    and residual books (they differ only in what they were fit on;
    the consumer decides which encode path to use)."""
    cb = np.asarray(codebooks, dtype=np.float64)
    m, n_codes, dsub = cb.shape
    rows = [
        (j, c, [float(x) for x in cb[j, c]])
        for j in range(m) for c in range(n_codes)
    ]
    df = spark.createDataFrame(rows, "subspace int, code int, vec array<double>")
    return save_model(df, path, "pq_codebooks",
                      params={"m": int(m), "n_codes": int(n_codes), "dsub": int(dsub)},
                      overwrite=overwrite)


def load_pq_codebooks(spark: SparkSession, path: str) -> np.ndarray:
    df, meta = load_model(spark, path, "pq_codebooks")
    p = meta["params"]
    out = np.zeros((int(p["m"]), int(p["n_codes"]), int(p["dsub"])), dtype=np.float64)
    for r in df.collect():
        out[r["subspace"], r["code"]] = r["vec"]
    return out


def save_opq_rotation(
    spark: SparkSession, rotation: np.ndarray, path: str, overwrite: bool = False
) -> dict:
    """Persist the OPQ rotation matrix (``train_opq_rotation_residual``
    returns ``(rotation, codebooks)`` — save the codebooks with
    :func:`save_pq_codebooks` at a sibling path)."""
    rot = np.asarray(rotation, dtype=np.float64)
    df = spark.createDataFrame(
        [(i, [float(x) for x in row]) for i, row in enumerate(rot)],
        "i int, vec array<double>",
    )
    return save_model(df, path, "opq_rotation",
                      params={"dim": int(rot.shape[0])}, overwrite=overwrite)


def load_opq_rotation(spark: SparkSession, path: str) -> np.ndarray:
    df, meta = load_model(spark, path, "opq_rotation")
    dim = int(meta["params"]["dim"])
    out = np.zeros((dim, dim), dtype=np.float64)
    for r in df.collect():
        out[r["i"]] = r["vec"]
    return out


# ------------------------------------------------- warehouse registry

def register_model(wh, model_name: str, path: str, version: int | None = None):
    """Record a saved artifact in the warehouse's ``model_registry``
    table — the production glue over version-by-path: jobs resolve
    "the current langid profiles" by NAME (:func:`resolve_model`)
    instead of hardcoding paths, and every registration is a
    PK-upserted row ((model_name, version) → path/kind/params), so
    history stays queryable like any other derived table.

    The artifact's ``model.json`` is read FIRST — registering a path
    that does not hold a complete artifact fails here, never at some
    later resolve. ``version=None`` assigns max(existing)+1; that
    read-then-upsert is not serialized against other registrars of
    the SAME name (the writer lease attaches at the upsert), so
    concurrent registrars should pass explicit versions — same-
    version re-registration is a PK replace, last writer wins.
    Returns the registered row as a dict."""
    from datetime import datetime, timezone

    spark = wh.spark
    meta = _read_meta(spark, path)  # validates: sidecar present = complete
    if version is None:
        if wh.exists(MODEL_REGISTRY.name):
            prev = (
                wh.read(MODEL_REGISTRY)
                .filter(F.col("model_name") == model_name)
                .agg(F.max("version").alias("v"))
                .first()["v"]
            )
            version = int(prev) + 1 if prev is not None else 1
        else:
            version = 1
    row = {
        "model_name": model_name,
        "version": int(version),
        "path": path,
        "model_kind": meta.get("kind"),
        "params_json": json.dumps(meta.get("params", {}), sort_keys=True),
        "registered_at": datetime.now(timezone.utc).replace(tzinfo=None),
    }
    wh.upsert(MODEL_REGISTRY, spark.createDataFrame([row], MODEL_REGISTRY.schema))
    return row


def resolve_model(wh, model_name: str, version: int | None = None) -> dict:
    """The registered row for ``model_name`` — highest version, or the
    pinned one. Raises ``KeyError`` if the name (or pinned version) was
    never registered. Feed ``row['path']`` to the typed ``load_*`` for
    ``row['model_kind']``."""
    if not wh.exists(MODEL_REGISTRY.name):
        raise KeyError(f"resolve_model: no models registered ({model_name!r})")
    df = wh.read(MODEL_REGISTRY).filter(F.col("model_name") == model_name)
    if version is not None:
        df = df.filter(F.col("version") == int(version))
    got = df.orderBy(F.col("version").desc()).limit(1).collect()
    if not got:
        raise KeyError(
            f"resolve_model: {model_name!r}"
            + (f" v{version}" if version is not None else "")
            + " is not registered"
        )
    r = got[0].asDict()
    r["params"] = json.loads(r.pop("params_json"))
    return r


def load_registered(wh, model_name: str, version: int | None = None):
    """Resolve AND load in one call: the registered row's
    ``model_kind`` dispatches to the matching typed loader, so
    ``load_registered(wh, "langid")`` returns the profiles relation
    (each loader's default form — pass the resolved path to the typed
    loader yourself for variants like ``collected=True``),
    ``load_registered(wh, "quality")`` a QualityClassifier,
    etc. — the one-liner a production job wants. Each loader returns
    exactly what its typed ``load_*`` returns (tuples included).
    Unknown kinds (a newer writer's artifact) fail loudly with the
    kind named."""
    row = resolve_model(wh, model_name, version=version)
    spark = wh.spark
    path = row["path"]
    loaders = {
        "langid_profiles": lambda: load_language_profiles(spark, path),
        "bpe_merges": lambda: load_bpe_merges(spark, path),
        "unigram_lm": lambda: load_unigram_model(spark, path),
        "dsir_ratio": lambda: load_dsir_ratio(spark, path),
        "sq_params": lambda: load_sq_params(spark, path),
        "ivf_centroids": lambda: load_ivf_centroids(spark, path),
        "pq_codebooks": lambda: load_pq_codebooks(spark, path),
        "opq_rotation": lambda: load_opq_rotation(spark, path),
        "quality_classifier": lambda: load_quality_classifier(spark, path),
    }
    kind = row["model_kind"]
    if kind not in loaders:
        raise ValueError(
            f"load_registered: {model_name!r} v{row['version']} holds an "
            f"unknown artifact kind {kind!r} (registered by a newer "
            "writer?) — resolve_model() gives the raw path"
        )
    return loaders[kind]()


# ----------------------------------------------- quality classifier

def save_quality_classifier(model, path: str, overwrite: bool = False) -> dict:
    """Persist a :func:`textops.quality_clf.train_quality_classifier`
    fit. Same sidecar discipline as every other artifact; the data
    half is the pyspark.ml writer dir (``<path>/lr``) rather than a
    ``data/`` parquet relation — an ml model is already its own
    storable form."""
    return model.save(path, overwrite=overwrite)


def load_quality_classifier(spark: SparkSession, path: str):
    from trainingdata_spark.textops.quality_clf import QualityClassifier

    return QualityClassifier.load(spark, path)
