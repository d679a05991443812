"""SemDeDup-style semantic dedup: planted near-duplicate embedding
groups must collapse to one canonical survivor each."""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from trainingdata_spark.similarity import (
    semantic_dedup,
    semantic_dedup_clusters,
)


def _corpus(spark, seed=7):
    """60 vectors in 64-d: three planted near-dup groups (ids 0-2,
    10-12, 20-21 — tiny perturbations of a shared base) plus 52
    well-separated random singletons."""
    rng = np.random.default_rng(seed)
    rows = []
    for base_id, members in ((0, (0, 1, 2)), (10, (10, 11, 12)), (20, (20, 21))):
        base = rng.standard_normal(64)
        base /= np.linalg.norm(base)
        for m in members:
            v = base + 0.01 * rng.standard_normal(64)
            rows.append((m, (v / np.linalg.norm(v)).tolist()))
    used = {m for _, ms in ((0, (0, 1, 2)), (10, (10, 11, 12)), (20, (20, 21))) for m in ms}
    for i in range(60):
        if i in used:
            continue
        v = rng.standard_normal(64)
        rows.append((i, (v / np.linalg.norm(v)).tolist()))
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_clusters_collapse_planted_groups(spark):
    got = {
        r["vec_id"]: r["cluster_id"]
        for r in semantic_dedup_clusters(_corpus(spark), threshold=0.9, n_cells=4).collect()
    }
    assert len(got) == 60
    assert got[0] == got[1] == got[2] == 0
    assert got[10] == got[11] == got[12] == 10
    assert got[20] == got[21] == 20
    # singletons keep their own id
    singles = [i for i in got if i not in {0, 1, 2, 10, 11, 12, 20, 21}]
    assert all(got[i] == i for i in singles)


def test_survivors_are_cluster_minima(spark):
    corpus = _corpus(spark)
    kept = sorted(r["vec_id"] for r in semantic_dedup(corpus, threshold=0.9, n_cells=4).collect())
    assert len(kept) == 60 - 5  # 3+3+2 members -> 3 survivors
    assert {0, 10, 20}.issubset(set(kept))
    assert not {1, 2, 11, 12, 21} & set(kept)
    # full row passthrough
    row = semantic_dedup(corpus, threshold=0.9, n_cells=4).filter("vec_id = 0").first()
    assert len(row["embedding"]) == 64


def test_high_threshold_keeps_everything(spark):
    corpus = _corpus(spark)
    assert semantic_dedup(corpus, threshold=0.99999, n_cells=4).count() == 60


def test_semantic_collapse_equivalence_and_twin_guard(spark):
    """Round-5 symmetry: the batch semantic path collapses
    byte-identical embeddings before the within-cell pair join — same
    clusters as the uncollapsed plan on a mixed corpus, and a planted
    identical-embedding group costs O(groups), not O(members²)."""
    import numpy as np
    from pyspark.sql import functions as F

    from trainingdata_spark.similarity import (
        semantic_dedup,
        semantic_dedup_clusters,
    )

    rng = np.random.default_rng(3)
    dim = 12

    def v(seed):
        r = np.random.default_rng(seed).standard_normal(dim)
        return [float(x) for x in r / np.linalg.norm(r)]

    rows = [(i, v(i)) for i in range(20)]
    rows += [(100 + i, rows[2][1]) for i in range(5)]   # exact dups of 2
    twin = v(999)
    rows += [(200 + i, twin) for i in range(300)]       # big identical group
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    a = semantic_dedup_clusters(corpus, threshold=0.98, n_cells=2)
    b = semantic_dedup_clusters(
        corpus, threshold=0.98, n_cells=2, collapse_exact=False
    )
    assert {tuple(r) for r in a.collect()} == {tuple(r) for r in b.collect()}

    kept = semantic_dedup(corpus, threshold=0.98, n_cells=2)
    twins_kept = kept.filter(F.col("vec_id") >= 200).count()
    assert twins_kept == 1
    assert kept.filter(F.col("vec_id") == 200).count() == 1
    assert kept.filter((F.col("vec_id") >= 100) & (F.col("vec_id") < 200)).count() == 0
