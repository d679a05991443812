"""Similarity search over embedding columns (array<float>).

Three strategies:

- ``cosine_topk``: brute-force exact top-k — a single scan computing
  the dot product with built-in higher-order functions
  (``zip_with`` + ``aggregate``), entirely JVM-side, followed by
  TakeOrderedAndProject. The correctness baseline and perfectly
  adequate when the query set is small (it is a broadcast of the
  query vectors against a 100 TB corpus scan).
- ``lsh_bucketed_topk``: random-hyperplane LSH — sign-bit sketch of
  each vector against ``n_planes`` fixed pseudo-random hyperplanes;
  candidates = rows whose sketch Hamming-matches the query's bucket
  within ``max_hamming``; exact cosine re-rank on candidates only.
  The scale path: the bucket join prunes the scan to a small
  fraction of the corpus.
- ``ivf_topk``: inverted-file index — k-means centroids trained on a
  bounded driver-side sample (the standard IVF train step; a
  full-corpus pyspark.ml KMeans variant,
  ``train_ivf_centroids_distributed``, is the 100 TB path when the
  sample would misplace cells), corpus vectors assigned to their
  nearest centroid by an Arrow-batched pandas UDF (one numpy matmul
  per batch), queries probe only the ``nprobe`` nearest cells, exact
  cosine re-rank inside probed cells.

Hyperplanes/centroids derive from seeded generators — no state,
reproducible anywhere.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _dot(a: str, b: str) -> F.Column:
    """Double-precision dot product of two array columns."""
    return F.expr(
        f"aggregate(zip_with({a}, {b}, (x, y) -> cast(x as double) * cast(y as double)), "
        f"cast(0.0 as double), (acc, v) -> acc + v)"
    )


def _norm(a: str) -> F.Column:
    return F.sqrt(
        F.expr(
            f"aggregate({a}, cast(0.0 as double), "
            f"(acc, v) -> acc + cast(v as double) * cast(v as double))"
        )
    )


# ------------------------------------------------------- arrow kernels
#
# Round 12 (guide §4.2): the brute-force scorers' per-row HOF folds are
# the measured CPU floor of the embedding family — the expression
# interpreter walks 64 array slots per (row × query) at ~20 ns/slot.
# These kernels hand whole Arrow batches to NumPy instead, looping
# SEQUENTIALLY over dimensions and vectorizing across rows, which is
# exactly the fold's left-to-right double-add order — so the scores are
# BIT-IDENTICAL to the JVM plan (differential-pinned in
# tests/test_round12_opts.py, oracle hash-verified at three SFs). Each
# family keeps its JVM path selectable (`kernel="jvm"`) both as the
# differential reference and for callers that cannot cross the Python
# boundary (pure-JVM deployments, streaming plans).


def _py_fold_norm(vec) -> float | None:
    """Row-at-a-time reference of _norm's fold: None iff the array is
    NULL or contains a NULL slot, else sqrt of the left-to-right sum."""
    import math

    if vec is None:
        return None
    acc = 0.0
    for x in vec:
        if x is None:
            return None
        x = float(x)
        acc += x * x
    return math.sqrt(acc)


def _py_fold_dot(a, b) -> float | None:
    """Row-at-a-time reference of _dot's zip_with+aggregate fold: None
    on length mismatch (zip_with pads with NULL) or any NULL slot."""
    if a is None or b is None or len(a) != len(b):
        return None
    acc = 0.0
    for x, y in zip(a, b):
        if x is None or y is None:
            return None
        acc += float(x) * float(y)
    return acc


class _SparkDivideByZero(ArithmeticError):
    """Raised by the Arrow kernels when a cosine denominator is
    exactly zero under ANSI mode — the same query-failing outcome as
    the JVM plan's [DIVIDE_BY_ZERO] (Spark's ``/`` is NOT IEEE: zero
    divisor errors under ANSI and yields NULL otherwise; only the
    exception type differs, surfaced as a PythonException)."""


def _spark_div(x: float, y: float, ansi: bool) -> float | None:
    """Spark SQL double division semantics: NULL inputs propagate
    before the zero check (callers handle that), y == 0 errors under
    ANSI / returns NULL otherwise, NaN/Inf divisors follow IEEE."""
    import numpy as np

    if y == 0.0:
        if ansi:
            raise _SparkDivideByZero(
                "[DIVIDE_BY_ZERO] cosine denominator is zero (ANSI mode)"
            )
        return None
    with np.errstate(divide="ignore", invalid="ignore"):
        return float(np.float64(x) / np.float64(y))


def _session_ansi(df: DataFrame) -> bool:
    return str(df.sparkSession.conf.get("spark.sql.ansi.enabled", "true")).lower() == "true"


def _arrow_topk_scores(
    corpus: DataFrame,
    q_rows: list,
    k: int,
    corpus_id: str,
    vec_col: str,
    out_schema,
    decode_params=None,
):
    """The shared mapInArrow scorer behind cosine_topk/sq_topk's
    ``kernel="arrow"`` path: emits (query_id, corpus_id, cosine) rows,
    locally pruned to the ≤k best per query PER BATCH under the exact
    global order (cosine DESC with Spark's NaN-greatest/NULLs-last
    semantics, then id ASC) — an exact map-side prune, like partial
    aggregation: any row dropped here is dominated by ≥k emitted rows
    of the same query, so the downstream row_number window sees every
    possible top-k member while shuffling O(k·batches) rows instead of
    O(|corpus|·|queries|).

    ``decode_params=(mins, scales)`` reconstructs SQ8 codes on the fly
    (x̂[d] = mins[d] + code·scales[d], the sq_decode arithmetic verbatim)
    so the float vectors are never materialized, mirroring the JVM
    decode-in-scan plan."""
    from pyspark.sql.pandas.types import to_arrow_schema

    arrow_schema = to_arrow_schema(out_schema)
    ansi = _session_ansi(corpus)
    import math

    # Driver-side query prep: python-float vectors + fold-order norms
    # (left-to-right adds — Python floats ARE IEEE doubles).
    qprep = []
    for qid, qv in q_rows:
        if qv is None or any(v is None for v in qv):
            qprep.append((qid, None, None))
        else:
            vec = [float(v) for v in qv]
            acc = 0.0
            for v in vec:
                acc += v * v
            qprep.append((qid, vec, math.sqrt(acc)))
    kk = max(int(k), 0)
    mins_scales = (
        ([float(v) for v in decode_params[0]], [float(v) for v in decode_params[1]])
        if decode_params is not None
        else None
    )

    def score(batches):
        import numpy as np
        import pyarrow as pa
        import pyarrow.compute as pc

        for batch in batches:
            n = batch.num_rows
            if n == 0 or not qprep or kk == 0:
                continue
            ids = batch.column(0)
            vecs = batch.column(1)
            lens = pc.fill_null(pc.list_value_length(vecs), -1).to_numpy(
                zero_copy_only=False
            )
            flat = pc.list_flatten(vecs)
            uniform = (
                vecs.null_count == 0
                and flat.null_count == 0
                and n > 0
                and (lens == lens[0]).all()
            )
            # id sort key: numeric ids sort natively; anything else is
            # dense-ranked driver-side per batch (Python's total order on
            # str equals Spark's UTF8 binary order: both are code-point)
            ids_key = None
            if ids.null_count == 0:
                try:
                    cand = ids.to_numpy(zero_copy_only=False)
                    if cand.dtype.kind in "iuf":
                        ids_key = cand
                except (pa.ArrowInvalid, ValueError, TypeError):
                    pass
            if ids_key is None:
                ids_py = ids.to_pylist()
                uniq = sorted({v for v in ids_py if v is not None})
                pos = {v: i + 1 for i, v in enumerate(uniq)}
                # NULL ids sort FIRST under Spark's ASC (rank 0); a
                # dense rank preserves the order exactly (Python str <
                # is code-point order, same as Spark's UTF8 binary)
                ids_key = np.fromiter(
                    (0 if v is None else pos[v] for v in ids_py),
                    dtype=np.int64,
                    count=n,
                )

            if uniform:
                L = int(lens[0])
                X = flat.to_numpy(zero_copy_only=False)
                if mins_scales is not None:
                    dim = len(mins_scales[0])
                    if L > dim:
                        uniform = False  # out-of-range decode: slow path
                if uniform:
                    X = X.astype(np.float64, copy=False).reshape(n, L)
                    cn = np.zeros(n)
                    live = [
                        (j, np.zeros(n))
                        for j, (qid, qv, qn) in enumerate(qprep)
                        if qv is not None and len(qv) == L
                    ]
                    if mins_scales is not None:
                        mns, scs = mins_scales
                        for d in range(L):
                            col = mns[d] + X[:, d] * scs[d]
                            cn += col * col
                            for j, acc in live:
                                acc += col * qprep[j][1][d]
                    else:
                        for d in range(L):
                            col = X[:, d]
                            cn += col * col
                            for j, acc in live:
                                acc += col * qprep[j][1][d]
                    cn = np.sqrt(cn)
                    dots = {j: acc for j, acc in live}
                    for j, (qid, qv, qn) in enumerate(qprep):
                        if j in dots:
                            # Spark's `/` is NOT IEEE: a zero divisor
                            # errors under ANSI and yields NULL
                            # otherwise (NaN/Inf divisors follow IEEE)
                            with np.errstate(divide="ignore", invalid="ignore"):
                                denom = cn * qn
                                cos = dots[j] / denom
                            zero = denom == 0.0
                            if zero.any() and ansi:
                                raise _SparkDivideByZero(
                                    "[DIVIDE_BY_ZERO] cosine denominator is "
                                    "zero (ANSI mode)"
                                )
                            nullflag = zero.astype(np.float64)
                            neg = np.where(
                                zero, 0.0, np.where(np.isnan(cos), -np.inf, -cos)
                            )
                        else:
                            # query NULL/NULL-slot or length mismatch:
                            # every cosine is NULL (zip_with padding)
                            cos = None
                            zero = None
                            nullflag = np.ones(n)
                            neg = np.zeros(n)
                        sel = np.lexsort((ids_key, neg, nullflag))[:kk]
                        yield pa.RecordBatch.from_arrays(
                            [
                                pa.array(
                                    [qid] * len(sel), type=arrow_schema.field(0).type
                                ),
                                ids.take(pa.array(sel, type=pa.int64())).cast(
                                    arrow_schema.field(1).type
                                ),
                                pa.array(
                                    [None] * len(sel)
                                    if cos is None
                                    else [
                                        None if zero[i] else float(cos[i])
                                        for i in sel
                                    ],
                                    type=arrow_schema.field(2).type,
                                ),
                            ],
                            schema=arrow_schema,
                        )
                    continue

            # slow path (ragged lengths / NULL rows or slots): per-row
            # Python folds — exact by construction, rare by data shape
            rows = vecs.to_pylist()
            for qid, qv, qn in qprep:
                cos_list = []
                for vec in rows:
                    if qv is None:
                        cos_list.append(None)
                        continue
                    if mins_scales is not None and vec is not None:
                        mns, scs = mins_scales
                        if len(vec) > len(mns):
                            cos_list.append(None)
                            continue
                        vec = [
                            None if c is None else mns[i] + float(c) * scs[i]
                            for i, c in enumerate(vec)
                        ]
                    cn_i = _py_fold_norm(vec)
                    dot_i = _py_fold_dot(vec, qv)
                    cos_list.append(
                        None
                        if cn_i is None or dot_i is None
                        else _spark_div(dot_i, cn_i * qn, ansi)
                    )
                nullflag = np.array([1.0 if c is None else 0.0 for c in cos_list])
                neg = np.array(
                    [
                        0.0
                        if c is None
                        else (-np.inf if np.isnan(c) else -c)
                        for c in cos_list
                    ]
                )
                sel = np.lexsort((ids_key, neg, nullflag))[:kk]
                yield pa.RecordBatch.from_arrays(
                    [
                        pa.array([qid] * len(sel), type=arrow_schema.field(0).type),
                        ids.take(pa.array(sel, type=pa.int64())).cast(
                            arrow_schema.field(1).type
                        ),
                        pa.array(
                            [cos_list[i] for i in sel],
                            type=arrow_schema.field(2).type,
                        ),
                    ],
                    schema=arrow_schema,
                )

    return corpus.select(corpus_id, vec_col).mapInArrow(score, schema=out_schema)


def _rank_topk(scored: DataFrame, k: int, query_id: str, corpus_id: str) -> DataFrame:
    """Deterministic top-k rank over a (query_id, corpus_id, cosine)
    relation — the shared tail of both scorer kernels."""
    from pyspark.sql import Window

    w = Window.partitionBy(query_id).orderBy(
        F.col("cosine").desc(), F.col(corpus_id).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id, corpus_id, "cosine", "rank")
    )


def _topk_out_schema(corpus, queries, corpus_id, query_id):
    from pyspark.sql.types import DoubleType, StructField, StructType

    return StructType(
        [
            StructField(query_id, queries.schema[query_id].dataType, True),
            StructField(corpus_id, corpus.schema[corpus_id].dataType, True),
            StructField("cosine", DoubleType(), True),
        ]
    )


def _resolve_kernel(kernel: str, *dfs: DataFrame) -> str:
    if kernel == "auto":
        return "jvm" if any(d.isStreaming for d in dfs) else "arrow"
    if kernel not in ("arrow", "jvm"):
        raise ValueError(f"kernel must be 'auto', 'arrow' or 'jvm', got {kernel!r}")
    return kernel


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    query_id: str = "query_id",
    query_vec: str = "query_vec",
    kernel: str = "auto",
) -> DataFrame:
    """Exact top-k neighbors per query vector: (query_id, vec_id,
    cosine, rank). The corpus is scanned once; the query set is small
    by contract (it is held whole on every executor under BOTH
    kernels — broadcast by the JVM plan, closure-captured by the
    Arrow plan).

    ``kernel="arrow"`` (the batch default via ``"auto"``; round 12,
    guide §4.2) scores whole Arrow batches in NumPy — vectorized
    across rows, SEQUENTIAL across dimensions, so every double add
    happens in the fold's order and the scores are bit-identical to
    the JVM expression plan (differential-pinned in
    tests/test_round12_opts.py). Each batch also pre-prunes to its
    local top-k under the exact output order, so the rank window
    shuffles O(k·batches) rows instead of |corpus|·|queries|.
    ``kernel="jvm"`` keeps the pure-expression broadcast-crossJoin
    plan: the differential reference, and the only choice inside
    streaming plans (mapInArrow needs a batch query-side collect)."""
    kernel = _resolve_kernel(kernel, corpus, queries)
    if kernel == "arrow":
        q_rows = [
            (r[0], None if r[1] is None else list(r[1]))
            for r in queries.select(query_id, query_vec).collect()
        ]
        scored = _arrow_topk_scores(
            corpus,
            q_rows,
            k,
            corpus_id,
            corpus_vec,
            _topk_out_schema(corpus, queries, corpus_id, query_id),
        )
        return _rank_topk(scored, k, query_id, corpus_id)

    # per-vector norms computed once per side, not once per pair
    c = corpus.withColumn("__cn", _norm(corpus_vec))
    q = queries.withColumn("__qn", _norm(query_vec))
    joined = c.crossJoin(F.broadcast(q))
    scored = joined.withColumn(
        "cosine", _dot(corpus_vec, query_vec) / (F.col("__cn") * F.col("__qn"))
    )
    return _rank_topk(scored, k, query_id, corpus_id)


def _near_dup_pairs_arrow(
    corpus: DataFrame,
    threshold: float,
    block_col: str,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """The ``kernel="arrow"`` path of cosine_near_dup_pairs: one
    applyInArrow kernel per block computes the block's pair-space
    cosines as 64 vectorized rank-1 updates (one per dimension, in
    dimension order — each G[i,j] accumulates x_i[d]·x_j[d] left to
    right, the _dot fold's exact add order) instead of Σ|block|²
    interpreted HOF folds, and only survivors cross back to the JVM.
    Row-chunked so memory is O(chunk·|block|), never |block|².

    Exactly replicates the join plan's semantics: NULL ids / NULL
    vectors / NULL slots never pair (their cosine would be NULL, which
    fails ``>= threshold``), only same-length vectors pair (zip_with
    pads mismatched lengths with NULL), equal ids never pair (strict
    ``id_a < id_b``), NaN cosines SURVIVE the threshold (Spark orders
    NaN above every double), and a zero denominator follows Spark's
    non-IEEE division — [DIVIDE_BY_ZERO] under ANSI, NULL (dropped)
    otherwise. Differential-pinned against the join kernel in
    tests/test_round12_opts.py."""
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import DoubleType, StructField, StructType

    out_schema = StructType(
        [
            StructField("id_a", corpus.schema[id_col].dataType, True),
            StructField("id_b", corpus.schema[id_col].dataType, True),
            StructField("cosine", DoubleType(), True),
        ]
    )
    arrow_schema = to_arrow_schema(out_schema)
    thr = float(threshold)
    ansi = _session_ansi(corpus)

    def block_pairs(tbl):
        import numpy as np
        import pyarrow as pa
        import pyarrow.compute as pc

        empty = arrow_schema.empty_table()
        n = tbl.num_rows
        if n < 2:
            return empty
        ids_arr = tbl.column(1).combine_chunks()
        vecs_arr = tbl.column(2).combine_chunks()
        ids_ok = ids_arr.is_valid().to_numpy(zero_copy_only=False)
        lens = pc.fill_null(pc.list_value_length(vecs_arr), -1).to_numpy(
            zero_copy_only=False
        )
        flat = pc.list_flatten(vecs_arr)
        clean = vecs_arr.null_count == 0 and flat.null_count == 0
        if clean:
            rows_ok = ids_ok.copy()
            vals = flat.to_numpy(zero_copy_only=False).astype(np.float64, copy=False)
            starts = np.concatenate(([0], np.cumsum(lens)))
            vec_py = None
        else:
            vec_py = vecs_arr.to_pylist()
            rows_ok = ids_ok & np.fromiter(
                (
                    v is not None and all(x is not None for x in v)
                    for v in vec_py
                ),
                dtype=bool,
                count=n,
            )
            vals = starts = None

        ids_np = None
        if ids_arr.null_count == 0:
            try:
                cand = ids_arr.to_numpy(zero_copy_only=False)
                if cand.dtype.kind in "iuf":
                    ids_np = cand
            except (pa.ArrowInvalid, ValueError, TypeError):
                pass
        ids_py = None if ids_np is not None else ids_arr.to_pylist()

        sel_a: list = []
        sel_b: list = []
        out_cos: list = []
        for L in np.unique(lens[rows_ok]):
            L = int(L)
            idx = np.flatnonzero(rows_ok & (lens == L))
            g = len(idx)
            if g < 2:
                continue
            if clean:
                X = vals[starts[idx][:, None] + np.arange(L)[None, :]] if L else np.zeros((g, 0))
            else:
                X = np.array(
                    [vec_py[i] for i in idx], dtype=np.float64
                ).reshape(g, L)
            # dense id rank: equal ids share a rank, so the strict
            # rank comparison reproduces strict id_a < id_b exactly
            if ids_np is not None:
                rank = np.unique(ids_np[idx], return_inverse=True)[1]
            else:
                uniq = sorted({ids_py[i] for i in idx})
                pos = {v: r for r, v in enumerate(uniq)}
                rank = np.fromiter((pos[ids_py[i]] for i in idx), dtype=np.int64, count=g)
            nn = np.zeros(g)
            for d in range(L):
                col = X[:, d]
                nn += col * col
            na = np.sqrt(nn)
            C = 512
            for c0 in range(0, g, C):
                ce = min(c0 + C, g)
                acc = np.zeros((ce - c0, g))
                for d in range(L):
                    acc += X[c0:ce, d][:, None] * X[:, d][None, :]
                with np.errstate(divide="ignore", invalid="ignore"):
                    denom = na[c0:ce, None] * na[None, :]
                    cos = acc / denom
                pair_ok = rank[None, :] > rank[c0:ce, None]
                # Spark's `/` is NOT IEEE: a zero denominator errors
                # under ANSI and yields NULL otherwise (NULL fails the
                # >= threshold). NaN/Inf denominators follow IEEE, and
                # NaN cosines DO survive (Spark orders NaN greatest).
                zero = denom == 0.0
                if ansi and bool((pair_ok & zero).any()):
                    raise _SparkDivideByZero(
                        "[DIVIDE_BY_ZERO] cosine denominator is zero (ANSI mode)"
                    )
                mask = pair_ok & ~zero & ((cos >= thr) | np.isnan(cos))
                ii, jj = np.nonzero(mask)
                if len(ii):
                    sel_a.extend((idx[c0 + ii]).tolist())
                    sel_b.extend((idx[jj]).tolist())
                    out_cos.extend(cos[ii, jj].tolist())
        if not sel_a:
            return empty
        return pa.table(
            [
                ids_arr.take(pa.array(sel_a, type=pa.int64())).cast(
                    arrow_schema.field(0).type
                ),
                ids_arr.take(pa.array(sel_b, type=pa.int64())).cast(
                    arrow_schema.field(1).type
                ),
                pa.array(out_cos, type=arrow_schema.field(2).type),
            ],
            schema=arrow_schema,
        )

    sel = corpus.select(block_col, id_col, vec_col).filter(
        F.col(block_col).isNotNull()
    )
    return sel.groupBy(block_col).applyInArrow(block_pairs, schema=out_schema)


def cosine_near_dup_pairs(
    corpus: DataFrame,
    threshold: float = 0.95,
    block_col: str | None = "label",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    kernel: str = "jvm",
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (id_a < id_b, cosine ≥
    threshold).

    ``block_col`` is the blocking key: the self-join runs only within
    blocks, so the pair space is Σ|block|² instead of n² — the standard
    scale pattern when a cheap partition key exists (shard, cluster id,
    coarse LSH bucket). Pass ``block_col=None`` for the exact
    all-pairs form (small corpora only), or pre-compute a bucket with
    ``with_lsh_bucket`` and block on that for ANN-grade recall at
    scale. Columns: id_a, id_b, cosine.

    ``kernel="arrow"`` (round 12, guide §4.2) scores each block's pair
    space as per-dimension vectorized rank-1 updates in NumPy — bit-
    identical to this join plan (see _near_dup_pairs_arrow) and far
    off the HOF interpreter's per-pair floor; it needs a non-None
    ``block_col`` and a batch (non-streaming) corpus. The default
    stays "jvm": the streaming/incremental dedup paths require a pure
    JVM plan, and many-tiny-block callers (IVF cells) would pay one
    kernel invocation per near-empty block."""
    if kernel not in ("jvm", "arrow"):
        raise ValueError(f"kernel must be 'jvm' or 'arrow', got {kernel!r}")
    if kernel == "arrow":
        if block_col is None:
            raise ValueError("kernel='arrow' requires a block_col")
        return _near_dup_pairs_arrow(corpus, threshold, block_col, id_col, vec_col)
    from trainingdata_spark.operators.spread import spread

    # norms are per-vector, not per-pair: compute them once on each
    # side of the join (|block| rows) instead of inside the pair space
    # (Σ|block|² rows) — at scale that is the difference between n and
    # n² array traversals. The corpus is spread first: the pair-space
    # dot products are a CPU-bound kernel.
    normed = spread(corpus).select(
        *( [F.col(block_col)] if block_col else [] ),
        F.col(id_col).alias("__id"),
        F.col(vec_col).alias("__v"),
        _norm(vec_col).alias("__n"),
    )
    a = normed.select(
        *( [block_col] if block_col else [] ),
        F.col("__id").alias("id_a"), F.col("__v").alias("__va"), F.col("__n").alias("__na"),
    )
    b = normed.select(
        *( [block_col] if block_col else [] ),
        F.col("__id").alias("id_b"), F.col("__v").alias("__vb"), F.col("__n").alias("__nb"),
    )
    joined = a.join(b, on=block_col, how="inner") if block_col else a.crossJoin(b)
    return (
        joined.filter(F.col("id_a") < F.col("id_b"))
        .withColumn("cosine", _dot("__va", "__vb") / (F.col("__na") * F.col("__nb")))
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


def hyperplanes(dim: int, n_planes: int = 16, seed: int = 42) -> list[list[float]]:
    rng = np.random.default_rng(seed)
    return rng.standard_normal((n_planes, dim)).tolist()


def with_lsh_bucket(
    df: DataFrame, vec_col: str, planes: list[list[float]], out: str = "bucket"
) -> DataFrame:
    """Sign-bit sketch: bit i set iff dot(vec, plane_i) > 0."""
    bits = []
    for i, p in enumerate(planes):
        lit = "array(" + ", ".join(f"cast({x!r} as double)" for x in p) + ")"
        bits.append(
            F.when(
                F.expr(
                    f"aggregate(zip_with({vec_col}, {lit}, (x, y) -> cast(x as double) * y), "
                    f"cast(0.0 as double), (acc, v) -> acc + v)"
                )
                > 0,
                F.lit(1 << i).cast("bigint"),
            ).otherwise(F.lit(0).cast("bigint"))
        )
    total = bits[0]
    for b in bits[1:]:
        total = total + b
    return df.withColumn(out, total)


def _hamming_ball_masks(n_planes: int, max_hamming: int) -> list[int]:
    """All XOR masks within Hamming distance ``max_hamming`` of zero —
    the multi-probe neighborhood (Lv et al., multi-probe LSH)."""
    from itertools import combinations

    masks = []
    for h in range(max_hamming + 1):
        for bits in combinations(range(n_planes), h):
            m = 0
            for b in bits:
                m |= 1 << b
            masks.append(m)
    return masks


def lsh_bucketed_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_planes: int = 16,
    max_hamming: int = 4,
    dim: int = 64,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    query_id: str = "query_id",
    query_vec: str = "query_vec",
    seed: int = 42,
) -> DataFrame:
    """Approximate top-k: candidates limited to sketch buckets within
    ``max_hamming`` bits of the query's bucket, then exact cosine
    re-rank. Recall degrades gracefully with max_hamming.

    Index-probe formulation (multi-probe LSH): each query explodes
    into its Hamming-ball of Σ C(n_planes, 0..max_hamming) probe
    buckets, and candidates come from an EQUI-join on the bucket id —
    a hash-table probe per corpus row. The earlier cross-join form
    evaluated bit_count(c ^ q) for every corpus×query pair, i.e.
    O(corpus·queries) work that is not an index; the equi-join keeps
    candidate generation O(corpus + queries·ball) and lets a
    bucket-partitioned corpus skip untouched buckets entirely. The
    probe set is exactly the ≤max_hamming ball, so results are
    identical to the cross-join form."""
    from pyspark.sql import Window

    planes = hyperplanes(dim, n_planes, seed)
    c = with_lsh_bucket(corpus, corpus_vec, planes, "c_bucket").withColumn(
        "__cn", _norm(corpus_vec)
    )
    q = with_lsh_bucket(queries, query_vec, planes, "q_bucket").withColumn(
        "__qn", _norm(query_vec)
    )
    masks = _hamming_ball_masks(n_planes, max_hamming)
    probes = q.withColumn(
        "c_bucket",
        F.explode(F.expr(f"transform(array({','.join(map(str, masks))}), m -> bigint(q_bucket) ^ m)")),
    )
    cand = c.join(F.broadcast(probes), on="c_bucket")
    scored = cand.withColumn(
        "cosine", _dot(corpus_vec, query_vec) / (F.col("__cn") * F.col("__qn"))
    )
    w = Window.partitionBy(query_id).orderBy(
        F.col("cosine").desc(), F.col(corpus_id).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id, corpus_id, "cosine", "rank")
    )


def semantic_dedup_clusters(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    n_cells: int = 16,
    centroids: "np.ndarray | None" = None,
    collapse_exact: bool = True,
    seed: int = 42,
) -> DataFrame:
    """SemDeDup-style semantic duplicate clusters: k-means-partition
    the embedding space, find cosine near-dup pairs WITHIN each cell,
    close them transitively, and label every vector with its
    component's minimum id. Columns: (id_col, cluster_id).

    This is the embedding-space analog of MinHash→LSH→components
    (textops/dedup.py): the k-means cell is the blocking key, so the
    pair space is Σ|cell|² rather than n² — the deliberate SemDeDup
    approximation (Abbas et al., 2023) that near-dups straddling a
    cell boundary are missed; raise n_cells for speed, lower it (or
    re-run on a shifted seed and union the pairs) for recall.
    Training stays on a bounded driver sample; assignment is an
    Arrow-batched map stage; everything after is the blocked
    self-join + alternating-star components.

    ``collapse_exact`` (default on, same guard as the text path):
    byte-identical embeddings reduce to one representative BEFORE the
    within-cell pair join — a crawl-shaped corpus with 10^5-member
    identical-embedding groups stays O(groups²-per-cell), never
    O(members²); members relabel through their representative, so
    output is identical to the uncollapsed plan (kept for
    differential testing)."""
    from trainingdata_spark.operators.components import connected_components

    if centroids is None:
        centroids = train_ivf_centroids(
            corpus, n_cells=n_cells, vec_col=vec_col, seed=seed
        )
    if not collapse_exact:
        cells = with_ivf_cell(corpus, centroids, vec_col, "__cell")
        pairs = cosine_near_dup_pairs(
            cells, threshold=threshold, block_col="__cell",
            id_col=id_col, vec_col=vec_col,
        )
        cc = connected_components(pairs, "id_a", "id_b", nodes=corpus.select(id_col))
        return cc.select(
            F.col("node").alias(id_col), F.col("component").alias("cluster_id")
        )

    rep_map = _vec_rep_map(corpus, id_col, vec_col)
    rep_ids = rep_map.filter(F.col(id_col) == F.col("__rep_id")).select(id_col)
    reps = corpus.join(rep_ids, id_col, "left_semi")
    cells = with_ivf_cell(reps, centroids, vec_col, "__cell")
    pairs = cosine_near_dup_pairs(
        cells, threshold=threshold, block_col="__cell",
        id_col=id_col, vec_col=vec_col,
    )
    cc = connected_components(pairs, "id_a", "id_b", nodes=rep_ids)
    return rep_map.join(
        cc.withColumnRenamed("node", "__rep_id"), "__rep_id"
    ).select(F.col(id_col), F.col("component").alias("cluster_id"))


def semantic_dedup(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    n_cells: int = 16,
    centroids: "np.ndarray | None" = None,
    seed: int = 42,
) -> DataFrame:
    """The end-to-end semantic dedup operator: one canonical row
    (minimum id) per semantic-duplicate cluster, all other columns
    untouched — the embedding-space counterpart of
    ``textops.dedup.near_dedup``."""
    clusters = semantic_dedup_clusters(
        corpus, id_col, vec_col, threshold, n_cells, centroids, seed=seed
    )
    drop = clusters.filter(F.col(id_col) != F.col("cluster_id")).select(id_col)
    # no broadcast hint: AQE broadcasts the drop set when it is small;
    # on a dup-heavy corpus it is corpus-sized and must shuffle
    return corpus.join(drop, id_col, "left_anti")


def train_ivf_centroids(
    corpus: DataFrame,
    n_cells: int = 16,
    vec_col: str = "embedding",
    sample_rows: int = 10_000,
    iters: int = 10,
    seed: int = 42,
) -> np.ndarray:
    """Lloyd k-means on a bounded sample, driver-side (the standard
    IVF train step — the sample is capped, so this stays O(sample),
    never O(corpus)). Returns (n_cells, dim) L2-normalized centroids."""
    sample = np.array(
        [r[0] for r in corpus.select(vec_col).limit(sample_rows).collect()],
        dtype=np.float64,
    )
    rng = np.random.default_rng(seed)
    cent = sample[rng.choice(len(sample), size=n_cells, replace=False)]
    for _ in range(iters):
        # cosine assignment on normalized rows == dot-product argmax
        sn = sample / np.linalg.norm(sample, axis=1, keepdims=True)
        cn = cent / np.linalg.norm(cent, axis=1, keepdims=True)
        assign = np.argmax(sn @ cn.T, axis=1)
        for c in range(n_cells):
            members = sample[assign == c]
            if len(members):
                cent[c] = members.mean(axis=0)
    return cent / np.linalg.norm(cent, axis=1, keepdims=True)


def train_ivf_centroids_distributed(
    corpus: DataFrame,
    n_cells: int = 16,
    vec_col: str = "embedding",
    iters: int = 10,
    seed: int = 42,
) -> np.ndarray:
    """Full-corpus k-means — the 100 TB IVF train path.

    :func:`train_ivf_centroids` is the FAISS-style default (Lloyd's on
    a bounded driver sample, O(sample) always); use THIS variant when
    the corpus distribution is skewed enough that a 10k sample
    misplaces cells. It runs Lloyd's over EVERY vector via pyspark.ml
    KMeans: assignment and the per-cluster running sums are JVM-side
    with map-side partial aggregation, so each iteration shuffles
    n_cells × dim running sums per partition — never the corpus — and
    the driver only ever holds the (n_cells, dim) centroid matrix.

    Vectors are L2-normalized in the plan first, which makes Euclidean
    Lloyd's equivalent to the spherical/cosine k-means the sampled
    trainer runs (on the unit sphere argmin ‖x−c‖ == argmax x·c);
    the returned centroids are re-normalized, so the output is a
    drop-in for :func:`with_ivf_cell` / :func:`ivf_topk` /
    ``models.save_ivf_centroids`` exactly like the sampled variant."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    unit = F.transform(
        F.col(vec_col), lambda x: x.cast("double") / _norm(vec_col)
    )
    feats = corpus.select(array_to_vector(unit).alias("features"))
    model = KMeans(
        k=n_cells, maxIter=iters, seed=seed, featuresCol="features"
    ).fit(feats)
    cent = np.array(model.clusterCenters(), dtype=np.float64)
    return cent / np.linalg.norm(cent, axis=1, keepdims=True)


def with_ivf_cell(
    df: DataFrame, centroids: np.ndarray, vec_col: str, out: str = "cell"
) -> DataFrame:
    """Nearest-centroid cell id via an Arrow-batched pandas UDF (one
    numpy matmul per batch — the vectorized slow-path pattern)."""
    from pyspark.sql.functions import pandas_udf

    cn = centroids  # closure-captured; broadcast with each task binary

    @pandas_udf("int")
    def assign(vecs: pd.Series) -> pd.Series:
        m = np.array(vecs.tolist(), dtype=np.float64)
        m /= np.linalg.norm(m, axis=1, keepdims=True)
        return pd.Series(np.argmax(m @ cn.T, axis=1))

    return df.withColumn(out, assign(F.col(vec_col)))


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_cells: int = 16,
    nprobe: int = 4,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    query_id: str = "query_id",
    query_vec: str = "query_vec",
    centroids: np.ndarray | None = None,
    seed: int = 42,
) -> DataFrame:
    """IVF approximate top-k: probe the ``nprobe`` cells nearest each
    query, exact cosine re-rank within them. Scan cost ≈
    nprobe/n_cells of the corpus once cells are materialized."""
    from pyspark.sql import Window

    if centroids is None:
        centroids = train_ivf_centroids(
            corpus, n_cells=n_cells, vec_col=corpus_vec, seed=seed
        )
    c = with_ivf_cell(corpus, centroids, corpus_vec, "c_cell")
    q = with_ivf_cell(queries, centroids, query_vec, "q_cell")

    # nprobe nearest cells per query: explode the per-query centroid
    # ranking (n_cells is tiny, so this is a driver-free broadcast op)
    from pyspark.sql.functions import pandas_udf

    cn = centroids

    @pandas_udf("array<int>")
    def probe_cells(vecs: pd.Series) -> pd.Series:
        m = np.array(vecs.tolist(), dtype=np.float64)
        m /= np.linalg.norm(m, axis=1, keepdims=True)
        order = np.argsort(-(m @ cn.T), axis=1)[:, :nprobe]
        return pd.Series(list(order))

    q = q.withColumn("probe", probe_cells(F.col(query_vec)))
    q_exp = q.select(
        query_id, query_vec, _norm(query_vec).alias("__qn"),
        F.explode("probe").alias("c_cell"),
    )
    cand = c.withColumn("__cn", _norm(corpus_vec)).join(
        F.broadcast(q_exp), on="c_cell"
    )
    scored = cand.withColumn(
        "cosine", _dot(corpus_vec, query_vec) / (F.col("__cn") * F.col("__qn"))
    )
    w = Window.partitionBy(query_id).orderBy(
        F.col("cosine").desc(), F.col(corpus_id).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id, corpus_id, "cosine", "rank")
    )


# ---------------------------------------------------- product quantization

def _nearest_code(sub: np.ndarray, book: np.ndarray) -> np.ndarray:
    """argmin_c ||sub_i − book_c||² per row — the one distance kernel
    every PQ train/encode step shares."""
    d2 = (sub**2).sum(1, keepdims=True) - 2 * sub @ book.T + (book**2).sum(1)
    return np.argmin(d2, axis=1)


def _subspace_kmeans(
    matrix: np.ndarray, m: int, n_codes: int, iters: int, rng: np.random.Generator
) -> np.ndarray:
    """Per-subspace L2 Lloyd k-means over a driver-side sample matrix
    — shared by the plain and residual codebook trainers (one
    implementation, so empty-cluster handling and convergence changes
    cannot drift between them)."""
    dim = matrix.shape[1]
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    dsub = dim // m
    n_codes = min(n_codes, len(matrix))
    books = np.empty((m, n_codes, dsub))
    for j in range(m):
        sub = matrix[:, j * dsub : (j + 1) * dsub]
        cent = sub[rng.choice(len(sub), size=n_codes, replace=False)].copy()
        for _ in range(iters):
            assign = _nearest_code(sub, cent)
            for c in range(n_codes):
                members = sub[assign == c]
                if len(members):
                    cent[c] = members.mean(axis=0)
        books[j] = cent
    return books


def _encode_matrix(x: np.ndarray, cb: np.ndarray) -> np.ndarray:
    """(n, m) nearest-entry codes for a float matrix under codebooks."""
    m, _, dsub = cb.shape
    codes = np.empty((len(x), m), dtype=np.int32)
    for j in range(m):
        codes[:, j] = _nearest_code(x[:, j * dsub : (j + 1) * dsub], cb[j])
    return codes


def _exact_cosine_rerank(
    candidates: DataFrame,
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    corpus_id: str,
    corpus_vec: str,
    query_id: str,
    query_vec: str,
) -> DataFrame:
    """Exact cosine re-rank of a (query_id, corpus_id) candidate
    relation against the float corpus — the shared tail of every
    shortlist-then-verify strategy (PQ rerank, IVF-PQ). Queries
    broadcast; only candidate rows are ever scored."""
    from pyspark.sql import Window

    c = corpus.select(
        F.col(corpus_id), F.col(corpus_vec), _norm(corpus_vec).alias("__cn")
    )
    q = queries.select(
        F.col(query_id), F.col(query_vec), _norm(query_vec).alias("__qn")
    )
    cand = candidates.join(c, corpus_id).join(F.broadcast(q), query_id)
    scored = cand.withColumn(
        "cosine", _dot(corpus_vec, query_vec) / (F.col("__cn") * F.col("__qn"))
    )
    w = Window.partitionBy(query_id).orderBy(
        F.col("cosine").desc(), F.col(corpus_id).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id, corpus_id, "cosine", "rank")
    )


def _empty_result(
    queries: DataFrame, query_id: str, id_field, value_name: str
) -> DataFrame:
    """Typed empty result for an empty query set (the other strategies
    fall through joins to empty output; the collected-query paths
    must construct theirs)."""
    from pyspark.sql import types as T

    schema = T.StructType([
        T.StructField(query_id, queries.schema[query_id].dataType),
        id_field,
        T.StructField(value_name, T.DoubleType()),
        T.StructField("rank", T.IntegerType()),
    ])
    return queries.sparkSession.createDataFrame([], schema)


def train_pq_codebooks(
    corpus: DataFrame,
    m: int = 8,
    n_codes: int = 256,
    vec_col: str = "embedding",
    sample_rows: int = 10_000,
    iters: int = 10,
    seed: int = 42,
) -> np.ndarray:
    """PQ codebooks (m, n_codes, dim/m): split the space into ``m``
    subspaces and run L2 Lloyd k-means per subspace on a bounded
    driver sample (Jégou et al., "Product Quantization for Nearest
    Neighbor Search", TPAMI 2011 — the train step every PQ system
    shares). O(sample), never O(corpus); n_codes is clamped to the
    sample size. With m subspaces of 256 codes a vector compresses to
    m bytes — the representation that lets a 100 TB embedding corpus
    be SCANNED from memory (ADC below) instead of re-read as floats."""
    sample = np.array(
        [r[0] for r in corpus.select(vec_col).limit(sample_rows).collect()],
        dtype=np.float64,
    )
    return _subspace_kmeans(sample, m, n_codes, iters, np.random.default_rng(seed))


def pq_encode(
    df: DataFrame,
    codebooks: np.ndarray,
    vec_col: str = "embedding",
    out: str = "pq_code",
) -> DataFrame:
    """Compress each vector to ``m`` small-int codes (array<int>,
    values < n_codes): per subspace, the nearest codebook entry by L2
    — one Arrow-batched numpy argmin per subspace per batch. Pure map
    stage; the encoded corpus is what a PQ index materializes."""
    from pyspark.sql.functions import pandas_udf

    cb = codebooks

    @pandas_udf("array<int>")
    def encode(vecs: pd.Series) -> pd.Series:
        x = np.array(vecs.tolist(), dtype=np.float64)
        return pd.Series(list(_encode_matrix(x, cb)))

    return df.withColumn(out, encode(F.col(vec_col)))


def pq_topk(
    encoded: DataFrame,
    queries: DataFrame,
    codebooks: np.ndarray,
    k: int = 10,
    metric: str = "l2",
    corpus_id: str = "vec_id",
    code_col: str = "pq_code",
    query_id: str = "query_id",
    query_vec: str = "query_vec",
) -> DataFrame:
    """Asymmetric-distance (ADC) top-k over a PQ-ENCODED corpus: per
    query, an (m, n_codes) table of exact sub-distances to every
    codebook entry, then each corpus row scores as m table lookups —
    no float vectors are ever read at scan time. ``metric='l2'``
    ranks by approximate squared L2 ascending; ``'ip'`` by
    approximate inner product descending (≈ cosine when the corpus
    was encoded from normalized vectors).

    Scale shape: the query set is collected ONCE (bounded by contract,
    same as the other strategies' broadcast side) and the per-query
    tables ship in the task closure; the scan is a mapInPandas over
    (id, m-byte code) rows emitting only each partition's local top-k
    per query, reduced by one global window. Columns: (query_id,
    vec_id, score, rank)."""
    from pyspark.sql import Window
    from pyspark.sql import types as T

    if metric not in ("l2", "ip"):
        raise ValueError("metric must be 'l2' or 'ip'")
    cb = codebooks
    m, n_codes, dsub = cb.shape
    qrows = queries.select(query_id, query_vec).collect()
    if not qrows:
        return _empty_result(queries, query_id, encoded.schema[corpus_id], "score")
    qids = [r[0] for r in qrows]
    qv = np.array([r[1] for r in qrows], dtype=np.float64)
    tabs = np.empty((len(qids), m, n_codes))
    for j in range(m):
        qs = qv[:, j * dsub : (j + 1) * dsub]
        if metric == "l2":
            tabs[:, j, :] = (
                (qs**2).sum(1, keepdims=True) - 2 * qs @ cb[j].T + (cb[j] ** 2).sum(1)
            )
        else:
            tabs[:, j, :] = qs @ cb[j].T
    asc = metric == "l2"

    # id columns keep their NATIVE types (string fingerprints, longs…)
    out_schema = T.StructType([
        T.StructField(query_id, queries.schema[query_id].dataType),
        encoded.schema[corpus_id],
        T.StructField("score", T.DoubleType()),
    ])
    jj = np.arange(m)

    def scan(batches):
        for pdf in batches:
            ids = pdf[corpus_id].to_numpy()
            codes = np.array(pdf[code_col].tolist(), dtype=np.int64)
            frames = []
            for qi, qid in enumerate(qids):
                s = tabs[qi][jj, codes].sum(axis=1)
                top = np.argsort(s if asc else -s, kind="stable")[:k]
                frames.append(pd.DataFrame({
                    query_id: qid, corpus_id: ids[top], "score": s[top],
                }))
            if frames:
                yield pd.concat(frames, ignore_index=True)

    local = encoded.select(corpus_id, code_col).mapInPandas(scan, out_schema)
    order = F.col("score").asc() if asc else F.col("score").desc()
    w = Window.partitionBy(query_id).orderBy(order, F.col(corpus_id).asc())
    return (
        local.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id, corpus_id, "score", "rank")
    )


def train_pq_codebooks_residual(
    corpus: DataFrame,
    centroids: np.ndarray,
    m: int = 8,
    n_codes: int = 256,
    vec_col: str = "embedding",
    sample_rows: int = 10_000,
    iters: int = 10,
    seed: int = 42,
) -> np.ndarray:
    """PQ codebooks trained on RESIDUALS x − centroid(cell(x)) — the
    IVF-PQ refinement from the original paper (Jégou 2011 §III-C).
    Corpus-level codebooks spend their codes on the coarse cluster
    structure the IVF cells already capture; residual codebooks spend
    them on the within-cell variation that actually ranks neighbors
    (measured on the clustered bench corpus: pointwise recall ~0.2
    without residuals, ~0.9 with). Same bounded driver sample."""
    sample = np.array(
        [r[0] for r in corpus.select(vec_col).limit(sample_rows).collect()],
        dtype=np.float64,
    )
    sn = sample / np.linalg.norm(sample, axis=1, keepdims=True)
    cn = centroids / np.linalg.norm(centroids, axis=1, keepdims=True)
    assign = np.argmax(sn @ cn.T, axis=1)
    residuals = sample - centroids[assign]
    return _subspace_kmeans(residuals, m, n_codes, iters, np.random.default_rng(seed))


def _pq_reconstruct(codes: np.ndarray, cb: np.ndarray) -> np.ndarray:
    """Decode (n, m) code rows back to (n, d) vectors — concatenated
    per-subspace codebook entries (the ADC 'decoded' view)."""
    m, _, _ = cb.shape
    return np.concatenate([cb[j][codes[:, j]] for j in range(m)], axis=1)


def train_opq_rotation_residual(
    corpus: DataFrame,
    centroids: np.ndarray,
    m: int = 8,
    n_codes: int = 256,
    vec_col: str = "embedding",
    sample_rows: int = 10_000,
    iters: int = 10,
    opq_iters: int = 8,
    seed: int = 42,
) -> tuple[np.ndarray, np.ndarray]:
    """(rotation R (d, d), codebooks (m, n_codes, d/m)): OPQ-NP — the
    non-parametric Optimized Product Quantization alternation (Ge,
    He, Ke & Sun, "Optimized Product Quantization", CVPR 2013 §4):
    learn an orthonormal rotation of the residual space that
    minimizes PQ reconstruction error before the subspace split, so
    correlated/unbalanced dimensions stop wasting code budget.

    Alternation per round, all on the bounded driver sample (same
    O(sample) contract as the other trainers): (1) k-means codebooks
    on the rotated residuals, (2) encode + reconstruct, (3) update R
    by orthogonal Procrustes — with X the residuals and Y the
    reconstructions, ``X^T Y = U S V^T`` gives ``R^T = U V^T``, the
    orthogonal transform minimizing ``‖X R^T − Y‖_F``. Because R is
    orthonormal, L2 is preserved and the ADC machinery downstream is
    unchanged — pass the pair to :func:`ivfpq_encode` /
    :func:`ivfpq_topk` via ``rotation=``.

    Opt-in (round 6, per the round-5 verdict): whether the rotation
    pays depends on the residual covariance — measure with
    tools/bench_ann.py's ``ivfpq_opq`` row next to the nlist
    finding."""
    sample = np.array(
        [r[0] for r in corpus.select(vec_col).limit(sample_rows).collect()],
        dtype=np.float64,
    )
    sn = sample / np.linalg.norm(sample, axis=1, keepdims=True)
    cn = centroids / np.linalg.norm(centroids, axis=1, keepdims=True)
    assign = np.argmax(sn @ cn.T, axis=1)
    residuals = sample - centroids[assign]

    rng = np.random.default_rng(seed)
    d = residuals.shape[1]
    rotation = np.eye(d)
    codebooks = None
    for _ in range(max(1, opq_iters)):
        z = residuals @ rotation.T
        codebooks = _subspace_kmeans(z, m, n_codes, iters, rng)
        recon = _pq_reconstruct(_encode_matrix(z, codebooks), codebooks)
        u, _, vt = np.linalg.svd(residuals.T @ recon)
        rotation = (u @ vt).T
    # final codebooks consistent with the last rotation update
    codebooks = _subspace_kmeans(
        residuals @ rotation.T, m, n_codes, iters, rng
    )
    return rotation, codebooks


def ivfpq_encode(
    corpus: DataFrame,
    centroids: np.ndarray,
    codebooks: np.ndarray,
    corpus_vec: str = "embedding",
    rotation: np.ndarray | None = None,
) -> DataFrame:
    """The materializable IVF-PQ index relation: corpus columns +
    ``__cell`` (IVF cell) + ``pq_code`` (m residual codes) — encode
    once, persist/write, query many times. One Arrow map stage.
    ``rotation``: optional OPQ rotation (train_opq_rotation_residual)
    applied to residuals before the subspace split; the SAME matrix
    must then be passed to every query pass over this index."""
    from pyspark.sql.functions import pandas_udf

    cb = codebooks
    cents = centroids
    rot_t = None if rotation is None else rotation.T.copy()

    c = with_ivf_cell(corpus, centroids, corpus_vec, "__cell")

    @pandas_udf("array<int>")
    def encode_residual(vecs: pd.Series, cells: pd.Series) -> pd.Series:
        x = np.array(vecs.tolist(), dtype=np.float64) - cents[cells.to_numpy()]
        if rot_t is not None:
            x = x @ rot_t
        return pd.Series(list(_encode_matrix(x, cb)))

    return c.withColumn(
        "pq_code", encode_residual(F.col(corpus_vec), F.col("__cell"))
    )


def ivfpq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_cells: int = 16,
    nprobe: int = 4,
    m: int = 8,
    n_codes: int = 256,
    shortlist_factor: int = 4,
    rerank: bool = True,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    query_id: str = "query_id",
    query_vec: str = "query_vec",
    centroids: np.ndarray | None = None,
    codebooks: np.ndarray | None = None,
    encoded: DataFrame | None = None,
    rotation: np.ndarray | None = None,
    seed: int = 42,
) -> DataFrame:
    """IVF-PQ with residual encoding — the standard billion-scale ANN
    composition (Jégou 2011): IVF cells prune the scan to
    nprobe/n_cells of the corpus; each vector stores m small-int codes
    of its RESIDUAL from its cell centroid; ADC builds one (m ×
    n_codes) table per (query, probed cell) from q − centroid(cell)
    and scores rows with m lookups; an exact cosine re-rank of the
    k × shortlist_factor shortlist recovers quantization-noise-level
    ordering (``rerank=False`` returns the raw ADC ranking with
    approximate-L2 scores).

    Scale shape: train steps are bounded driver samples; cell
    assignment and encoding are Arrow map stages over the corpus; the
    scan is a mapInPandas over (id, cell, m codes) emitting only
    partition-local top-shortlist rows per query; the re-rank joins
    |queries| × shortlist float rows. Pass ``encoded`` (a persisted
    :func:`ivfpq_encode` result) to reuse a built index across query
    batches — a real deployment encodes once and stores
    (id, cell, codes) as the index table; building inline is one-shot
    convenience. Columns: (query_id, vec_id, cosine|score, rank)."""
    from pyspark.sql import Window
    from pyspark.sql import types as T

    if encoded is not None and (centroids is None or codebooks is None):
        raise ValueError(
            "encoded= requires the exact centroids and codebooks the index "
            "was built with — retraining defaults here would score stored "
            "codes against mismatched tables (silently wrong neighbors)"
        )
    if centroids is None:
        centroids = train_ivf_centroids(
            corpus, n_cells=n_cells, vec_col=corpus_vec, seed=seed
        )
    if codebooks is None:
        codebooks = train_pq_codebooks_residual(
            corpus, centroids, m=m, n_codes=n_codes, vec_col=corpus_vec, seed=seed
        )
    cb = codebooks
    m_, n_codes_, dsub = cb.shape

    enc = encoded if encoded is not None else ivfpq_encode(
        corpus, centroids, codebooks, corpus_vec=corpus_vec, rotation=rotation
    )
    cents = centroids

    # per-(query, probed-cell) ADC tables from q − centroid(cell)
    qrows = queries.select(query_id, query_vec).collect()
    if not qrows:
        return _empty_result(
            queries, query_id, enc.schema[corpus_id],
            "cosine" if rerank else "score",
        )
    qids = [r[0] for r in qrows]
    qv = np.array([r[1] for r in qrows], dtype=np.float64)
    qn = qv / np.linalg.norm(qv, axis=1, keepdims=True)
    cn = cents / np.linalg.norm(cents, axis=1, keepdims=True)
    probes = np.argsort(-(qn @ cn.T), axis=1)[:, :nprobe]
    tabs: dict[tuple[int, int], np.ndarray] = {}
    for qi in range(len(qids)):
        for cell in probes[qi]:
            r = qv[qi] - cents[cell]
            if rotation is not None:
                # orthonormal OPQ rotation: L2-preserving, so ADC
                # distances in the rotated space rank identically
                r = rotation @ r
            t = np.empty((m_, n_codes_))
            for j in range(m_):
                rs = r[j * dsub : (j + 1) * dsub]
                t[j] = (rs**2).sum() - 2 * rs @ cb[j].T + (cb[j] ** 2).sum(1)
            tabs[(qi, int(cell))] = t
    probed_cells = sorted({int(c_) for row in probes for c_ in row})

    shortlist_k = k * shortlist_factor if rerank else k
    out_schema = T.StructType([
        T.StructField(query_id, queries.schema[query_id].dataType),
        enc.schema[corpus_id],
        T.StructField("score", T.DoubleType()),
    ])
    jj = np.arange(m_)

    def scan(batches):
        for pdf in batches:
            frames = []
            for cell, grp in pdf.groupby("__cell"):
                ids = grp[corpus_id].to_numpy()
                codes = np.array(grp["pq_code"].tolist(), dtype=np.int64)
                for qi, qid in enumerate(qids):
                    t = tabs.get((qi, int(cell)))
                    if t is None:
                        continue
                    s = t[jj, codes].sum(axis=1)
                    top = np.argsort(s, kind="stable")[:shortlist_k]
                    frames.append(pd.DataFrame({
                        query_id: qid, corpus_id: ids[top], "score": s[top],
                    }))
            if frames:
                yield pd.concat(frames, ignore_index=True)

    pruned = enc.filter(F.col("__cell").isin(probed_cells)).select(
        corpus_id, "__cell", "pq_code"
    )
    local = pruned.mapInPandas(scan, out_schema)
    w = Window.partitionBy(query_id).orderBy(F.col("score").asc(), F.col(corpus_id).asc())
    shortlist = (
        local.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= shortlist_k)
    )
    if not rerank:
        return shortlist.filter(F.col("rank") <= k).select(
            query_id, corpus_id, "score", "rank"
        )
    return _exact_cosine_rerank(
        shortlist.select(query_id, corpus_id), corpus, queries, k,
        corpus_id, corpus_vec, query_id, query_vec,
    )


def pq_topk_rerank(
    encoded: DataFrame,
    corpus: DataFrame,
    queries: DataFrame,
    codebooks: np.ndarray,
    k: int = 10,
    shortlist_factor: int = 4,
    metric: str = "ip",
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    code_col: str = "pq_code",
    query_id: str = "query_id",
    query_vec: str = "query_vec",
) -> DataFrame:
    """The production PQ pattern: ADC shortlist (k × shortlist_factor
    candidates from the compressed scan) → EXACT cosine re-rank of
    only those candidates against the float corpus. PQ's pointwise
    ranking is noisy at quantization-error scale, but its shortlist
    recall is high (measured 0.8-0.9 at 4k on the test corpus vs
    0.3-0.5 pointwise), and the re-rank touches |queries| × k ×
    shortlist_factor float rows — vanishing next to the corpus scan
    it replaces. Columns: (query_id, vec_id, cosine, rank)."""
    from pyspark.sql import Window

    shortlist = pq_topk(
        encoded, queries, codebooks, k=k * shortlist_factor, metric=metric,
        corpus_id=corpus_id, code_col=code_col,
        query_id=query_id, query_vec=query_vec,
    ).select(query_id, corpus_id)
    return _exact_cosine_rerank(
        shortlist, corpus, queries, k,
        corpus_id, corpus_vec, query_id, query_vec,
    )


# ------------------------------------------- incremental semantic dedup

def _vec_rep_map(df: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    """(id, __rep_id): every vector mapped to the min id of its
    byte-identical group — the embedding-space twin of
    textops.dedup.exact_rep_map, sharing its one collapse
    implementation (rep_map_by_digest) so null handling and the
    min-id rule cannot drift. The digest hashes the array's string
    form; the shuffle carries (id, digest) only."""
    from trainingdata_spark.textops.dedup import rep_map_by_digest

    return rep_map_by_digest(
        df, id_col, F.md5(F.col(vec_col).cast("string").cast("binary"))
    )


def incremental_semantic_dedup(
    new_vecs: DataFrame,
    stored: DataFrame,
    centroids: np.ndarray,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    cell_col: str = "cell",
) -> DataFrame:
    """Ingest-time semantic dedup of a vector batch against ALL stored
    history — the embedding-space counterpart of
    ``textops.dedup.incremental_near_dedup`` (L37): returns the
    surviving new rows WITH their cell assignment, ready to append to
    the cell-partitioned store.

    Semantics mirror the text path exactly:

    - byte-identical embeddings collapse to one representative before
      any pair-emitting join;
    - within-batch near-dup pairs (cosine ≥ threshold, same k-means
      cell — the SemDeDup blocking approximation) close transitively
      into components;
    - any component touching LIVE stored history drops wholesale (the
      canonical copy already exists); clean components keep their
      minimum id;
    - stored rows whose id is re-ingested in this batch with a
      CHANGED embedding are excluded from the probe (stale state must
      not suppress batch-mates); unchanged re-ingests keep anchoring
      their component to the stored copy, so replays are idempotent.

    Cost: cell assignment is an Arrow map over the batch; the history
    probe is one cell-equi-join of the (small) batch against only the
    touched cells of the store (the store is FILTERED to those cells
    before any join, so a cell-partitioned store partition-prunes and
    history is scanned O(touched cells), not O(history)) — and history
    is never self-joined. ``stored`` must carry ``cell_col`` (it is
    what this function returns for appending); it is assigned here if
    absent (first ingest / migration).

    Robustness: the batch's vectors are cast to the STORE's element
    type first (a float64 upstream batch against a float32 store
    would otherwise never byte-match its own unchanged re-ingest,
    silently defeating the anchor rule), and rows with null, empty or
    wrong-dimension embeddings are DROPPED with the rest of the batch
    unaffected — unlike null text (which still occupies an id in a
    corpus), a vector that cannot be assigned a cell can never
    participate in similarity and would only strand in the store."""
    from trainingdata_spark.textops.dedup import (
        survivors_of_clean_components,
    )

    if cell_col not in stored.columns:
        stored = with_ivf_cell(stored, centroids, vec_col, cell_col)
    new_vecs = new_vecs.withColumn(
        vec_col, F.col(vec_col).cast(stored.schema[vec_col].dataType)
    ).filter(F.coalesce(F.size(vec_col), F.lit(0)) == int(centroids.shape[1]))
    new_c = with_ivf_cell(new_vecs, centroids, vec_col, cell_col)

    rep_map = _vec_rep_map(new_vecs, id_col, vec_col)
    rep_ids = rep_map.filter(F.col(id_col) == F.col("__rep_id")).select(id_col)
    reps = new_c.join(rep_ids, id_col, "left_semi")

    # prune the store to the batch's touched cells BEFORE the
    # freshness split — the collect is bounded by the batch size
    # (mirrors Warehouse.upsert's touched-partition collect)
    touched = [r[0] for r in new_c.select(cell_col).distinct().collect()]
    stored_touched = stored.filter(F.col(cell_col).isin(touched))

    # LIVE history = rows outside the batch ∪ re-ingests whose
    # embedding is unchanged (array equality join)
    batch_ids = new_vecs.select(id_col)
    outside = stored_touched.join(batch_ids, id_col, "left_anti")
    unchanged = stored_touched.join(
        new_vecs.select(id_col, vec_col), [id_col, vec_col], "left_semi"
    )
    fresh = outside.unionByName(unchanged.select(*outside.columns))

    within = cosine_near_dup_pairs(
        reps, threshold=threshold, block_col=cell_col,
        id_col=id_col, vec_col=vec_col,
    )

    a = reps.select(
        F.col(cell_col),
        F.col(id_col).alias("__nid"),
        F.col(vec_col).alias("__nv"),
        _norm(vec_col).alias("__nn"),
    )
    b = fresh.select(
        F.col(cell_col),
        F.col(id_col).alias("__hid"),
        F.col(vec_col).alias("__hv"),
        _norm(vec_col).alias("__hn"),
    )
    hist_hits = (
        a.join(b, cell_col)
        .filter(F.col("__nid") != F.col("__hid"))
        .withColumn("__cos", _dot("__nv", "__hv") / (F.col("__nn") * F.col("__hn")))
        .filter(F.col("__cos") >= threshold)
        .select(F.col("__nid").alias("node"))
        .distinct()
    )

    survivors = survivors_of_clean_components(within, rep_ids, hist_hits, id_col)
    return new_c.join(survivors, id_col, "left_semi")


# ------------------------------------------------ scalar quantization


def train_sq_params(
    corpus: DataFrame, vec_col: str = "embedding"
) -> tuple[list[float], list[float]]:
    """Per-dimension (mins, scales) for 8-bit scalar quantization —
    the simplest of the public vector-compression family (4× smaller
    than float32, near-lossless top-k; the SQ8 of faiss/Milvus).

    Unlike the PQ trainers this is EXACT and fully distributed: one
    posexplode + groupBy(dim) min/max, a shuffle whose output is
    dim-sized regardless of corpus size. ``scales[d] == 0`` marks a
    constant dimension (decode returns its min)."""
    rows = (
        corpus.select(F.posexplode(vec_col).alias("d", "x"))
        .groupBy("d")
        .agg(F.min("x").alias("lo"), F.max("x").alias("hi"))
        .collect()
    )
    if not rows:
        raise ValueError("empty corpus: no dimensions to fit")
    dim = max(r["d"] for r in rows) + 1
    mins = [0.0] * dim
    scales = [0.0] * dim
    for r in rows:
        mins[r["d"]] = float(r["lo"])
        scales[r["d"]] = (float(r["hi"]) - float(r["lo"])) / 255.0
    return mins, scales


def sq_encode(
    df: DataFrame,
    params: tuple[list[float], list[float]],
    vec_col: str = "embedding",
    out: str = "sq_code",
) -> DataFrame:
    """Compress each vector to array<int> of 0..255 — a pure JVM
    ``transform`` against the broadcast-literal min/scale arrays (no
    Python anywhere, unlike the PQ path whose codebook argmin needs
    numpy). Values are clamped, so encoding vectors outside the
    trained range degrades gracefully instead of wrapping."""
    mins, scales = params
    mn = F.array(*[F.lit(v) for v in mins])
    sc = F.array(*[F.lit(v) for v in scales])
    code = F.expr(
        f"transform({vec_col}, (x, i) -> CASE "
        f"WHEN element_at(__sq_sc, i + 1) = 0.0 THEN 0 "
        f"ELSE cast(least(255, greatest(0, "
        f"round((x - element_at(__sq_mn, i + 1)) / "
        f"element_at(__sq_sc, i + 1)))) as int) END)"
    )
    return (
        df.withColumn("__sq_mn", mn)
        .withColumn("__sq_sc", sc)
        .withColumn(out, code)
        .drop("__sq_mn", "__sq_sc")
    )


def sq_decode(
    df: DataFrame,
    params: tuple[list[float], list[float]],
    code_col: str = "sq_code",
    out: str = "embedding",
) -> DataFrame:
    """Reconstruct approximate float vectors: x̂ = min + code·scale.
    Same JVM-transform shape as the encoder."""
    mins, scales = params
    mn = F.array(*[F.lit(v) for v in mins])
    sc = F.array(*[F.lit(v) for v in scales])
    rec = F.expr(
        f"transform({code_col}, (c, i) -> element_at(__sq_mn, i + 1) + "
        f"cast(c as double) * element_at(__sq_sc, i + 1))"
    )
    return (
        df.withColumn("__sq_mn", mn)
        .withColumn("__sq_sc", sc)
        .withColumn(out, rec)
        .drop("__sq_mn", "__sq_sc")
    )


def sq_topk(
    encoded: DataFrame,
    queries: DataFrame,
    params: tuple[list[float], list[float]],
    k: int = 10,
    corpus_id: str = "vec_id",
    code_col: str = "sq_code",
    query_id: str = "query_id",
    query_vec: str = "query_vec",
    kernel: str = "auto",
) -> DataFrame:
    """Top-k over the SQ-compressed corpus: decode-on-the-fly into
    the exact cosine_topk scoring. The scan reads 1 byte/dim instead
    of 4 and the float vectors are never stored — the JVM kernel
    reconstructs them per-row inside the scan stage; the Arrow kernel
    (batch default, round 12) reconstructs per-dimension columns in
    NumPy with the identical ``min + code·scale`` arithmetic, so both
    kernels score bit-identically (differential-pinned).
    Returns (query_id, vec_id, cosine, rank)."""
    kernel = _resolve_kernel(kernel, encoded, queries)
    if kernel == "arrow":
        q_rows = [
            (r[0], None if r[1] is None else list(r[1]))
            for r in queries.select(query_id, query_vec).collect()
        ]
        scored = _arrow_topk_scores(
            encoded,
            q_rows,
            k,
            corpus_id,
            code_col,
            _topk_out_schema(encoded, queries, corpus_id, query_id),
            decode_params=params,
        )
        return _rank_topk(scored, k, query_id, corpus_id)
    recon = sq_decode(encoded, params, code_col=code_col, out="__sq_vec")
    return cosine_topk(
        recon, queries, k=k,
        corpus_id=corpus_id, corpus_vec="__sq_vec",
        query_id=query_id, query_vec=query_vec, kernel="jvm",
    )
