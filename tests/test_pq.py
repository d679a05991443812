"""Product-quantization ANN: codebook training, encoding, ADC search,
and the IVF-PQ composition — recall measured against the exact
brute-force baseline."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from trainingdata_spark.similarity import (
    cosine_topk,
    ivfpq_topk,
    pq_encode,
    pq_topk,
    train_pq_codebooks,
)

DIM = 32


def _corpus(spark, n=400, seed=5):
    rng = np.random.default_rng(seed)
    # clustered structure so neighborhoods are meaningful
    centers = rng.standard_normal((8, DIM)) * 3
    rows = []
    for i in range(n):
        v = centers[i % 8] + rng.standard_normal(DIM) * 0.5
        v = v / np.linalg.norm(v)
        rows.append((i, [float(x) for x in v]))
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def _queries(spark, corpus_rows, ids=(3, 57, 130), noise=0.05, seed=9):
    rng = np.random.default_rng(seed)
    out = []
    by_id = {r["vec_id"]: np.array(r["embedding"]) for r in corpus_rows}
    for qid, cid in enumerate(ids):
        v = by_id[cid] + rng.standard_normal(DIM) * noise
        v = v / np.linalg.norm(v)
        out.append((qid, [float(x) for x in v]))
    return spark.createDataFrame(out, "query_id long, query_vec array<float>")


def test_pq_encode_shape_and_range(spark):
    corpus = _corpus(spark, n=200)
    cb = train_pq_codebooks(corpus, m=8, n_codes=32, sample_rows=200)
    assert cb.shape == (8, 32, DIM // 8)
    enc = pq_encode(corpus, cb).select("vec_id", "pq_code").collect()
    for r in enc:
        assert len(r["pq_code"]) == 8
        assert all(0 <= c < 32 for c in r["pq_code"])
    # deterministic: second encode identical
    enc2 = pq_encode(corpus, cb).select("vec_id", "pq_code").collect()
    assert {r["vec_id"]: r["pq_code"] for r in enc} == {
        r["vec_id"]: r["pq_code"] for r in enc2
    }


def test_pq_dim_not_divisible_raises(spark):
    corpus = _corpus(spark, n=50)
    with pytest.raises(ValueError, match="not divisible"):
        train_pq_codebooks(corpus, m=5, sample_rows=50)


def test_pq_reconstruction_improves_with_codes(spark):
    corpus = _corpus(spark, n=300)
    rows = corpus.collect()
    x = np.array([r["embedding"] for r in rows], dtype=np.float64)

    def recon_err(n_codes):
        cb = train_pq_codebooks(corpus, m=8, n_codes=n_codes, sample_rows=300)
        enc = {r["vec_id"]: r["pq_code"] for r in pq_encode(corpus, cb).collect()}
        dsub = DIM // 8
        err = 0.0
        for r in rows:
            rec = np.concatenate([cb[j][enc[r["vec_id"]][j]] for j in range(8)])
            err += float(((np.array(r["embedding"]) - rec) ** 2).sum())
        return err / len(rows)

    assert recon_err(64) < recon_err(4) * 0.5


def test_pq_adc_recall_vs_bruteforce(spark):
    corpus = _corpus(spark)
    rows = corpus.collect()
    queries = _queries(spark, rows)
    exact = cosine_topk(corpus, queries, k=10)
    exact_sets = {}
    for r in exact.collect():
        exact_sets.setdefault(r["query_id"], set()).add(r["vec_id"])

    cb = train_pq_codebooks(corpus, m=8, n_codes=64, sample_rows=400)
    enc = pq_encode(corpus, cb)
    # normalized corpus -> IP ADC approximates cosine ranking. Raw ADC
    # ranking is noisy at quantization-error scale (the test corpus's
    # within-cluster gaps are tiny), so assert the modest pointwise
    # floor here and the production-grade number on the
    # shortlist+rerank path below.
    approx = pq_topk(enc, queries, cb, k=10, metric="ip")
    approx_sets = {}
    for r in approx.collect():
        approx_sets.setdefault(r["query_id"], set()).add(r["vec_id"])

    recalls = [
        len(exact_sets[q] & approx_sets.get(q, set())) / 10 for q in exact_sets
    ]
    assert sum(recalls) / len(recalls) >= 0.3

    from trainingdata_spark.similarity import pq_topk_rerank

    rr = pq_topk_rerank(enc, corpus, queries, cb, k=10, shortlist_factor=4)
    rr_sets = {}
    for r in rr.collect():
        rr_sets.setdefault(r["query_id"], set()).add(r["vec_id"])
    rr_recalls = [
        len(exact_sets[q] & rr_sets.get(q, set())) / 10 for q in exact_sets
    ]
    assert sum(rr_recalls) / len(rr_recalls) >= 0.7
    # rank column well-formed: exactly k rows per query, ranks 1..k
    per_q = {}
    for r in approx.collect():
        per_q.setdefault(r["query_id"], []).append(r["rank"])
    for ranks in per_q.values():
        assert sorted(ranks) == list(range(1, 11))


def test_pq_l2_metric_orders_ascending(spark):
    corpus = _corpus(spark, n=100)
    rows = corpus.collect()
    queries = _queries(spark, rows, ids=(7,))
    cb = train_pq_codebooks(corpus, m=4, n_codes=32, sample_rows=100)
    enc = pq_encode(corpus, cb)
    got = pq_topk(enc, queries, cb, k=5, metric="l2").collect()
    scores = [r["score"] for r in sorted(got, key=lambda r: r["rank"])]
    assert scores == sorted(scores)  # ascending distance
    with pytest.raises(ValueError, match="metric"):
        pq_topk(enc, queries, cb, k=5, metric="hamming")


def test_ivfpq_recall_with_generous_probe(spark):
    corpus = _corpus(spark)
    rows = corpus.collect()
    queries = _queries(spark, rows)
    exact = cosine_topk(corpus, queries, k=10)
    exact_sets = {}
    for r in exact.collect():
        exact_sets.setdefault(r["query_id"], set()).add(r["vec_id"])

    approx = ivfpq_topk(
        corpus, queries, k=10, n_cells=8, nprobe=4, m=8, n_codes=64
    )
    approx_sets = {}
    for r in approx.collect():
        approx_sets.setdefault(r["query_id"], set()).add(r["vec_id"])
    recalls = [
        len(exact_sets[q] & approx_sets.get(q, set())) / 10 for q in exact_sets
    ]
    assert sum(recalls) / len(recalls) >= 0.5


def test_pq_empty_queries_returns_typed_empty(spark):
    corpus = _corpus(spark, n=60)
    cb = train_pq_codebooks(corpus, m=4, n_codes=16, sample_rows=60)
    enc = pq_encode(corpus, cb)
    empty_q = spark.createDataFrame([], "query_id long, query_vec array<float>")
    out = pq_topk(enc, empty_q, cb, k=5)
    assert out.count() == 0
    assert out.columns == ["query_id", "vec_id", "score", "rank"]
    out2 = ivfpq_topk(corpus, empty_q, k=5, n_cells=4, nprobe=2, m=4, n_codes=16)
    assert out2.count() == 0
    assert out2.columns == ["query_id", "vec_id", "cosine", "rank"]


def test_pq_string_ids_preserved(spark):
    import numpy as _np

    rng = _np.random.default_rng(2)
    rows = [
        (f"doc-{i}", [float(x) for x in rng.standard_normal(8)]) for i in range(40)
    ]
    corpus = spark.createDataFrame(rows, "vec_id string, embedding array<float>")
    queries = spark.createDataFrame(
        [("q0", rows[7][1])], "query_id string, query_vec array<float>"
    )
    cb = train_pq_codebooks(corpus, m=4, n_codes=16, sample_rows=40)
    enc = pq_encode(corpus, cb)
    got = pq_topk(enc, queries, cb, k=3, metric="ip").collect()
    assert got and all(isinstance(r["vec_id"], str) for r in got)
    assert got[0]["query_id"] == "q0"


def test_ivfpq_encoded_requires_matching_artifacts(spark):
    from trainingdata_spark.similarity import (
        ivfpq_encode,
        train_ivf_centroids,
        train_pq_codebooks_residual,
    )

    corpus = _corpus(spark, n=80)
    cent = train_ivf_centroids(corpus, n_cells=4, sample_rows=80)
    rcb = train_pq_codebooks_residual(corpus, cent, m=4, n_codes=16, sample_rows=80)
    enc = ivfpq_encode(corpus, cent, rcb)
    queries = _queries(spark, corpus.collect(), ids=(3,))
    with pytest.raises(ValueError, match="centroids and codebooks"):
        ivfpq_topk(corpus, queries, encoded=enc)
    # with matching artifacts the prebuilt path works
    got = ivfpq_topk(
        corpus, queries, k=3, n_cells=4, nprobe=2, m=4, n_codes=16,
        centroids=cent, codebooks=rcb, encoded=enc,
    )
    assert got.count() == 3


def test_ivfpq_materialized_index_partition_prunes(spark, tmp_path):
    """The 100 TB claim behind ivfpq_encode: a cell-partitioned index
    on disk lets the probe scan ONLY the probed cells — pinned by the
    physical plan's partition filters, not just row counts."""
    from trainingdata_spark.similarity import (
        ivfpq_encode,
        train_ivf_centroids,
        train_pq_codebooks_residual,
    )

    corpus = _corpus(spark, n=200)
    cent = train_ivf_centroids(corpus, n_cells=4, sample_rows=200)
    rcb = train_pq_codebooks_residual(corpus, cent, m=4, n_codes=16, sample_rows=200)
    enc = ivfpq_encode(corpus, cent, rcb)
    path = str(tmp_path / "pq_index")
    enc.write.partitionBy("__cell").parquet(path)

    stored = spark.read.parquet(path)
    pruned = stored.filter(F.col("__cell").isin([0, 1]))
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan
    assert "__cell" in plan.split("PartitionFilters")[1][:120]
    # and the pruned read is correct
    expect = enc.filter(F.col("__cell").isin([0, 1])).count()
    assert pruned.count() == expect > 0


# ------------------------------------------------ OPQ rotation (round 6)


def test_opq_rotation_is_orthonormal_and_lowers_distortion(spark):
    """The learned rotation must be orthonormal (L2-preserving, the
    property the ADC path relies on), and OPQ's objective —
    reconstruction error of the rotated residuals — must not exceed
    the unrotated residual codebooks' error on the same sample."""
    from trainingdata_spark.similarity import (
        _encode_matrix,
        _pq_reconstruct,
        train_ivf_centroids,
        train_opq_rotation_residual,
        train_pq_codebooks_residual,
    )

    corpus = _corpus(spark, n=400)
    cent = train_ivf_centroids(corpus, n_cells=8, sample_rows=400)
    rot, ocb = train_opq_rotation_residual(
        corpus, cent, m=8, n_codes=32, sample_rows=400, opq_iters=5
    )
    assert rot.shape == (DIM, DIM)
    assert np.allclose(rot @ rot.T, np.eye(DIM), atol=1e-8)

    rcb = train_pq_codebooks_residual(
        corpus, cent, m=8, n_codes=32, sample_rows=400
    )
    # rebuild the training residuals exactly as the trainers do
    sample = np.array(
        [r[0] for r in corpus.select("embedding").limit(400).collect()],
        dtype=np.float64,
    )
    sn = sample / np.linalg.norm(sample, axis=1, keepdims=True)
    cn = cent / np.linalg.norm(cent, axis=1, keepdims=True)
    res = sample - cent[np.argmax(sn @ cn.T, axis=1)]

    err_plain = np.sum(
        (res - _pq_reconstruct(_encode_matrix(res, rcb), rcb)) ** 2
    )
    z = res @ rot.T
    err_opq = np.sum((z - _pq_reconstruct(_encode_matrix(z, ocb), ocb)) ** 2)
    assert err_opq <= err_plain * 1.02  # never meaningfully worse


def test_ivfpq_opq_end_to_end_recall(spark):
    """ivfpq_topk with rotation= must run end-to-end (encode + ADC in
    the rotated space) and keep recall at least on par with the
    unrotated residual path on the clustered corpus."""
    from trainingdata_spark.similarity import (
        train_ivf_centroids,
        train_opq_rotation_residual,
    )

    corpus = _corpus(spark)
    rows = corpus.collect()
    queries = _queries(spark, rows)
    exact_sets = {}
    for r in cosine_topk(corpus, queries, k=10).collect():
        exact_sets.setdefault(r["query_id"], set()).add(r["vec_id"])

    cent = train_ivf_centroids(corpus, n_cells=8, sample_rows=400)
    rot, ocb = train_opq_rotation_residual(
        corpus, cent, m=8, n_codes=64, sample_rows=400, opq_iters=4
    )
    approx = ivfpq_topk(
        corpus, queries, k=10, n_cells=8, nprobe=4, m=8, n_codes=64,
        centroids=cent, codebooks=ocb, rotation=rot,
    )
    approx_sets = {}
    for r in approx.collect():
        approx_sets.setdefault(r["query_id"], set()).add(r["vec_id"])
    recalls = [
        len(exact_sets[q] & approx_sets.get(q, set())) / 10 for q in exact_sets
    ]
    assert sum(recalls) / len(recalls) >= 0.5


# ------------------------------- distributed IVF training (round 11)


def test_distributed_ivf_centroids_drop_in_and_separate_clusters(spark):
    """Round 11: the full-corpus KMeans train path returns the same
    artifact shape as the sampled trainer (unit-norm (n_cells, dim)),
    separates planted clusters with purity 1, and is a drop-in for
    ivf_topk — recall parity with the exact baseline on planted
    near-neighbors."""
    from trainingdata_spark.similarity import (
        train_ivf_centroids_distributed,
        with_ivf_cell,
    )

    # orthogonal planted clusters: center c_j = 4·e_{4j} with small
    # noise — separable enough that Lloyd's global optimum is the
    # planted partition regardless of k-means|| init (a random-center
    # corpus can legitimately converge to a merged-cell local optimum,
    # which is an init property, not a trainer defect)
    rng = np.random.default_rng(11)
    rows = []
    for i in range(240):
        c = i % 8
        v = np.zeros(DIM)
        v[4 * c] = 4.0
        v += rng.standard_normal(DIM) * 0.2
        v /= np.linalg.norm(v)
        rows.append((i, [float(x) for x in v]))
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    cent = train_ivf_centroids_distributed(corpus, n_cells=8, iters=8)
    assert cent.shape[1] == DIM and cent.shape[0] == 8
    assert np.allclose(np.linalg.norm(cent, axis=1), 1.0, atol=1e-9)

    # _corpus plants 8 clusters at vec_id % 8 — every planted cluster
    # must land whole in one cell and no two clusters may share one
    cells = with_ivf_cell(corpus, cent, "embedding").collect()
    planted_to_cells = {}
    for r in cells:
        planted_to_cells.setdefault(r["vec_id"] % 8, set()).add(r["cell"])
    assert all(len(s) == 1 for s in planted_to_cells.values())
    assert len({next(iter(s)) for s in planted_to_cells.values()}) == 8

    # drop-in to ivf_topk: top-1 matches the exact baseline per query
    from trainingdata_spark.similarity import ivf_topk

    queries = _queries(spark, corpus.collect(), ids=(3, 57, 130))
    got = ivf_topk(
        corpus, queries, k=1, n_cells=8, nprobe=2, centroids=cent
    ).collect()
    exact = cosine_topk(corpus, queries, k=1).collect()
    assert {r["query_id"]: r["vec_id"] for r in got} == {
        r["query_id"]: r["vec_id"] for r in exact
    }


def test_distributed_ivf_centroids_roundtrip_models_seam(spark, tmp_path):
    """The distributed trainer's output persists through the same
    save_ivf_centroids/load_ivf_centroids seam, bit-identical."""
    from trainingdata_spark import models
    from trainingdata_spark.similarity import (
        train_ivf_centroids_distributed,
    )

    corpus = _corpus(spark, n=120)
    cent = train_ivf_centroids_distributed(corpus, n_cells=4, iters=5)
    path = str(tmp_path / "ivf_dist")
    models.save_ivf_centroids(spark, cent, path)
    loaded = models.load_ivf_centroids(spark, path)
    assert np.array_equal(loaded, cent)
