"""Model-fitting verbs of the training-data suite as a process entry
point (``python -m trainingdata_spark …``):

    python -m trainingdata_spark --warehouse /data/wh fit-langid \
        --corpus /data/labeled --out /models/langid/v3 --register langid

Each ``fit-*`` verb fits one artifact, persists it through the
:mod:`trainingdata_spark.models` seam and, with ``--register NAME``,
records it in the warehouse ``model_registry``; ``model`` resolves a
registered name or lists the registry.
"""

from __future__ import annotations

import argparse

from pyspark.sql import SparkSession

from binancedatapipeline_spark.warehouse import Warehouse


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="trainingdata_spark",
        description="Fit, persist and register training-data model artifacts",
    )
    p.add_argument("--warehouse", required=True, help="warehouse root directory")
    p.add_argument("--shuffle-partitions", type=int, default=None)
    sub = p.add_subparsers(dest="command", required=True)

    fl = sub.add_parser(
        "fit-langid",
        help="fit language-ID n-gram profiles from a labeled corpus and "
        "persist them as a model table (models.save_language_profiles) — "
        "downstream jobs and the streaming curation sink then LOAD the "
        "stored profiles instead of refitting per run",
    )
    fl.add_argument("--corpus", required=True,
                    help="parquet path with (lang, text) columns")
    fl.add_argument("--out", required=True, help="model directory to create")
    fl.add_argument("--top-k", type=int, default=300)
    fl.add_argument("--overwrite", action="store_true")
    fl.add_argument("--register", metavar="NAME", default=None,
                    help="also register the artifact in the warehouse "
                    "model_registry under NAME (auto-incremented version)")

    fq = sub.add_parser(
        "fit-quality",
        help="fit the fastText-style quality classifier from labeled "
        "parquet corpora and persist it through the model seam "
        "(models.save_quality_classifier); scoring jobs then LOAD the "
        "stored classifier instead of refitting per run",
    )
    fq.add_argument("--positive", required=True,
                    help="parquet path of reference-quality documents (text column)")
    fq.add_argument("--negative", required=True,
                    help="parquet path of crawl-junk documents (text column)")
    fq.add_argument("--out", required=True, help="model directory to create")
    fq.add_argument("--text-col", default="text")
    fq.add_argument("--num-features", type=int, default=1 << 18)
    fq.add_argument("--max-iter", type=int, default=50)
    fq.add_argument("--overwrite", action="store_true")
    fq.add_argument("--register", metavar="NAME", default=None,
                    help="also register in the warehouse model_registry")

    fb = sub.add_parser(
        "fit-bpe",
        help="learn BPE merges from a corpus and persist the ordered "
        "merge list (models.save_bpe_merges) — tokenization jobs load "
        "the stored merges instead of re-running the corpus word count",
    )
    fb.add_argument("--corpus", required=True,
                    help="parquet path with a text column")
    fb.add_argument("--out", required=True, help="model directory to create")
    fb.add_argument("--text-col", default="text")
    fb.add_argument("--num-merges", type=int, default=100)
    fb.add_argument("--overwrite", action="store_true")
    fb.add_argument("--register", metavar="NAME", default=None,
                    help="also register in the warehouse model_registry")

    fi = sub.add_parser(
        "fit-ivf",
        help="train IVF centroids over an embedding corpus and persist "
        "them (models.save_ivf_centroids); --distributed runs "
        "full-corpus pyspark.ml KMeans instead of the driver-sample "
        "Lloyd's",
    )
    fi.add_argument("--corpus", required=True,
                    help="parquet path with an embedding array column")
    fi.add_argument("--out", required=True, help="model directory to create")
    fi.add_argument("--vec-col", default="embedding")
    fi.add_argument("--n-cells", type=int, default=16)
    fi.add_argument("--iters", type=int, default=10)
    fi.add_argument("--distributed", action="store_true",
                    help="full-corpus KMeans (the 100 TB train path)")
    fi.add_argument("--overwrite", action="store_true")
    fi.add_argument("--register", metavar="NAME", default=None,
                    help="also register in the warehouse model_registry")

    mv = sub.add_parser(
        "model",
        help="resolve a registered model by name (latest or pinned "
        "version), or list the whole registry",
    )
    mv.add_argument("--name", default=None,
                    help="model name to resolve; omit to list all rows")
    mv.add_argument("--version", type=int, default=None)
    return p


def main(argv: list[str] | None = None, spark: SparkSession | None = None,
         out=print) -> int:
    """Entry point. ``spark``/``out`` are injectable for tests; a real
    invocation builds the standard session."""
    args = build_parser().parse_args(argv)
    if spark is None:
        from binancedatapipeline_spark.session import get_session

        spark = get_session(
            app_name="trainingdata-cli",
            shuffle_partitions=args.shuffle_partitions,
        )
    from trainingdata_spark import models

    wh = Warehouse(spark, args.warehouse)

    def register() -> None:
        if args.register:
            row = models.register_model(wh, args.register, args.out)
            out(f"registered {args.register} v{row['version']}")

    if args.command == "fit-langid":
        from trainingdata_spark.textops.langid import train_language_profiles

        corpus = spark.read.parquet(args.corpus)
        profiles = train_language_profiles(corpus, top_k=args.top_k)
        models.save_language_profiles(
            profiles, args.out, overwrite=args.overwrite
        )
        n = spark.read.parquet(f"{args.out.rstrip('/')}/data").count()
        out(f"fit-langid: {n} profile rows saved to {args.out}")
        register()
    elif args.command == "fit-quality":
        from trainingdata_spark.textops.quality_clf import (
            train_quality_classifier,
        )

        clf = train_quality_classifier(
            spark.read.parquet(args.positive),
            spark.read.parquet(args.negative),
            text_col=args.text_col,
            num_features=args.num_features,
            max_iter=args.max_iter,
        )
        models.save_quality_classifier(clf, args.out, overwrite=args.overwrite)
        out(f"fit-quality: classifier ({args.num_features} features, "
            f"n_max={clf.n_max}) saved to {args.out}")
        register()
    elif args.command == "fit-bpe":
        from trainingdata_spark.textops.bpe import train_bpe

        merges = train_bpe(
            spark.read.parquet(args.corpus),
            text_col=args.text_col,
            num_merges=args.num_merges,
        )
        models.save_bpe_merges(spark, merges, args.out,
                               overwrite=args.overwrite)
        out(f"fit-bpe: {len(merges)} merges saved to {args.out}")
        register()
    elif args.command == "fit-ivf":
        from trainingdata_spark.similarity import (
            train_ivf_centroids,
            train_ivf_centroids_distributed,
        )

        corpus = spark.read.parquet(args.corpus)
        train = (train_ivf_centroids_distributed if args.distributed
                 else train_ivf_centroids)
        cent = train(corpus, n_cells=args.n_cells, vec_col=args.vec_col,
                     iters=args.iters)
        models.save_ivf_centroids(spark, cent, args.out,
                                  overwrite=args.overwrite)
        out(f"fit-ivf: {cent.shape[0]}x{cent.shape[1]} centroids "
            f"({'distributed' if args.distributed else 'sampled'}) "
            f"saved to {args.out}")
        register()
    elif args.command == "model":
        if args.name:
            row = models.resolve_model(wh, args.name, version=args.version)
            out(f"{row['model_name']} v{row['version']} "
                f"kind={row['model_kind']} path={row['path']} "
                f"params={row['params']}")
        else:
            if wh.exists(models.MODEL_REGISTRY.name):
                rows = (wh.read(models.MODEL_REGISTRY)
                        .orderBy("model_name", "version").collect())
            else:
                rows = []
            for r in rows:
                out(f"{r['model_name']} v{r['version']} "
                    f"kind={r['model_kind']} path={r['path']}")
            out(f"model: {len(rows)} registration(s)")
    return 0
