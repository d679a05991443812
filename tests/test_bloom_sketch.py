"""Bloom-filter decontamination: the compressed-benchmark scale path.

The contract under test: (1) NO false negatives — every document the
exact probe removes, the Bloom probe removes; (2) the per-document
false-positive rate follows the union bound s * (1-e^{-k/c})^k, so
the c=20 default keeps it near zero on short docs while c=10 visibly
over-drops (the measured finding the SIZING note documents); (3) the
corpus-side plan stays Python-free with no corpus shuffle.
"""

from __future__ import annotations

import math
import random

from trainingdata_spark.textops.decontam import (
    bloom_decontaminate,
    build_bloom_bitmap,
    decontaminate,
)


def _corpus(spark, seed=7, n_bench=20, n_docs=300, planted=10):
    rng = random.Random(seed)
    vocab = [f"w{i}" for i in range(200)]

    def doc(n):
        return " ".join(rng.choice(vocab) for _ in range(n))

    bench_rows = [(i, doc(30)) for i in range(n_bench)]
    corpus_rows = [(100 + i, doc(40)) for i in range(n_docs)]
    for j in range(planted):
        btoks = bench_rows[j][1].split()
        corpus_rows[j] = (
            corpus_rows[j][0],
            corpus_rows[j][1] + " " + " ".join(btoks[3:8]),
        )
    docs = spark.createDataFrame(corpus_rows, "doc_id int, text string")
    bench = spark.createDataFrame(bench_rows, "doc_id int, text string")
    return docs, bench, [100 + j for j in range(planted)]


def test_bloom_no_false_negatives_and_planted_removed(spark):
    docs, bench, planted = _corpus(spark)
    exact = {r.doc_id for r in decontaminate(docs, bench).select("doc_id").collect()}
    bloom = {r.doc_id for r in bloom_decontaminate(docs, bench).select("doc_id").collect()}
    # one-sided error: bloom keeps a SUBSET of what exact keeps
    assert bloom <= exact
    assert not any(p in bloom for p in planted)
    # and at c=20 the subset is nearly the whole thing (union bound:
    # ~36 shingles * 0.6185^20 ~ 0.24%/doc -> a few docs at most)
    assert len(exact - bloom) <= 10


def test_bloom_fp_rate_tracks_union_bound(spark):
    """c=10 on ~36-shingle docs must over-drop at ~s*0.8% ~ 25%/doc —
    the measured hazard that motivates the c=20 default — while still
    never under-dropping."""
    docs, bench, _ = _corpus(spark, seed=11)
    exact = {r.doc_id for r in decontaminate(docs, bench).select("doc_id").collect()}
    kept10 = {
        r.doc_id
        for r in bloom_decontaminate(docs, bench, bits_per_key=10, num_hashes=7)
        .select("doc_id")
        .collect()
    }
    assert kept10 <= exact
    fp_rate = len(exact - kept10) / max(len(exact), 1)
    # union bound predicts ~25%; accept a generous band around it
    bound = 36 * (1 - math.exp(-7 / 10)) ** 7
    assert 0.05 < fp_rate < 2.5 * bound


def test_bloom_bitmap_reuse_and_determinism(spark):
    docs, bench, _ = _corpus(spark, seed=13)
    bm = build_bloom_bitmap(bench)
    words, m, k, bm_n = bm
    assert m == len(words) * 64 and k == 14 and bm_n == 5
    a = {r.doc_id for r in bloom_decontaminate(docs, bitmap=bm).select("doc_id").collect()}
    b = {r.doc_id for r in bloom_decontaminate(docs, bench).select("doc_id").collect()}
    assert a == b
    # build is deterministic
    assert build_bloom_bitmap(bench)[0] == words


def test_bloom_edge_cases(spark):
    import pyspark.sql.functions as F

    docs = spark.createDataFrame(
        [(1, "only two"), (2, None), (3, "")], "doc_id int, text string"
    )
    bench = spark.createDataFrame([(1, "x y z q r")], "doc_id int, text string")
    kept = bloom_decontaminate(docs, bench).select("doc_id")
    # null/empty/short docs share no 5-gram with the bench: all kept
    assert {r.doc_id for r in kept.collect()} == {1, 2, 3}

    # empty benchmark: nothing removed
    empty_bench = bench.filter(F.lit(False))
    kept2 = bloom_decontaminate(docs, empty_bench).select("doc_id")
    assert kept2.count() == 3


def test_bloom_probe_plan_is_jvm_only_no_corpus_shuffle(spark):
    docs, bench, _ = _corpus(spark, seed=17)
    bm = build_bloom_bitmap(bench)
    plan = (
        bloom_decontaminate(docs, bitmap=bm)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Python" not in plan, plan
    assert "BroadcastNestedLoopJoin" in plan, plan
    # the only exchange permitted is the single-row bitmap broadcast;
    # the corpus side must carry no Exchange at all
    assert "Exchange hashpartitioning" not in plan, plan
    assert "Exchange rangepartitioning" not in plan, plan


# ------------------------------------------------------------- count-min

from trainingdata_spark.textops.sketch import (  # noqa: E402
    cms_build,
    cms_error_bound,
    cms_estimate,
    cms_merge,
)


def _tokens(spark, seed=3, n=4000, zipf_vocab=50):
    """Zipf-ish token stream: token t{i} appears ~n/(i+1) times."""
    rng = random.Random(seed)
    rows = [(f"t{int(rng.paretovariate(1.1)) % zipf_vocab}",) for _ in range(n)]
    return spark.createDataFrame(rows, "tok string"), rows


def test_cms_exact_when_width_exceeds_cardinality(spark):
    df, rows = _tokens(spark)
    from collections import Counter

    true = Counter(r[0] for r in rows)
    sk = cms_build(df, "tok", depth=5, width=8192)
    keys = spark.createDataFrame([(k,) for k in true], "tok string")
    est = {r.tok: r.est for r in cms_estimate(sk, keys, "tok").collect()}
    # 50 keys in 8192 buckets x 5 rows: min over rows is exact w.h.p.
    assert est == dict(true)


def test_cms_never_undercounts_and_respects_eps_bound(spark):
    df, rows = _tokens(spark, seed=9, n=6000, zipf_vocab=400)
    from collections import Counter

    true = Counter(r[0] for r in rows)
    depth, width = 4, 64  # deliberately tiny: force collisions
    sk = cms_build(df, "tok", depth=depth, width=width)
    keys = spark.createDataFrame([(k,) for k in true], "tok string")
    est = {r.tok: r.est for r in cms_estimate(sk, keys, "tok").collect()}
    n_total = len(rows)
    eps = 2.718281828 / width * n_total
    over = 0
    for k, t in true.items():
        assert est[k] >= t, k  # the one-sided guarantee, always
        if est[k] - t > eps:
            over += 1
    # P(overshoot > eps) <= e^-depth ~ 1.8% per key; allow slack
    assert over <= max(3, int(0.05 * len(true)))

    bound = cms_error_bound(sk).collect()[0]
    assert bound.total_n == n_total
    assert abs(bound.eps_bound - eps) < 1e-6


def test_cms_merge_equals_build_on_union(spark):
    a, _ = _tokens(spark, seed=1, n=1500)
    b, _ = _tokens(spark, seed=2, n=1500)
    sk_merged = cms_merge(cms_build(a, "tok", 4, 256), cms_build(b, "tok", 4, 256))
    sk_union = cms_build(a.unionByName(b), "tok", 4, 256)
    left = {(r.row, r.bucket): r.cnt for r in sk_merged.collect()}
    right = {(r.row, r.bucket): r.cnt for r in sk_union.collect()}
    assert left == right


def test_cms_weighted_equals_expanded(spark):
    pre = spark.createDataFrame(
        [("a", 5), ("b", 2), ("c", 1)], "tok string, n int"
    )
    expanded = spark.createDataFrame(
        [("a",)] * 5 + [("b",)] * 2 + [("c",)], "tok string"
    )
    w = {(r.row, r.bucket): r.cnt
         for r in cms_build(pre, "tok", 3, 128, weight_col="n").collect()}
    e = {(r.row, r.bucket): r.cnt
         for r in cms_build(expanded, "tok", 3, 128).collect()}
    assert w == e


def test_cms_null_keys_ignored_and_absent_key_bounded(spark):
    df = spark.createDataFrame([("a",), (None,), ("a",), ("b",)], "tok string")
    sk = cms_build(df, "tok", depth=4, width=512)
    keys = spark.createDataFrame([("a",), ("zz",)], "tok string")
    est = {r.tok: r.est for r in cms_estimate(sk, keys, "tok").collect()}
    assert est["a"] == 2
    assert 0 <= est["zz"] <= 3  # absent key: >= 0, bounded by collisions


def test_cms_build_plan_is_bounded_single_shuffle(spark):
    df, _ = _tokens(spark, seed=5)
    sk = cms_build(df, "tok", depth=5, width=1024)
    plan = sk._jdf.queryExecution().executedPlan().toString()
    assert "Python" not in plan
    # one hash exchange (the depth*width groupBy), partial agg before it
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert sk.count() <= 5 * 1024


def test_cms_param_guards(spark):
    """The review-found footgun: probing/merging with mismatched
    (depth, width) must raise, not silently undercount to zero."""
    import pytest

    df = spark.createDataFrame([("a",)] * 10 + [("b",)] * 5, "tok string")
    sk_a = cms_build(df, "tok", depth=4, width=1024)
    sk_b = cms_build(df, "tok", depth=5, width=8192)
    with pytest.raises(ValueError, match="incompatible"):
        cms_merge(sk_a, sk_b)
    with pytest.raises(ValueError, match="exactly one"):
        cms_estimate(sk_a.unionByName(sk_b), df.limit(1), "tok")
    # params ride the relation: the probe needs no repeated arguments
    keys = spark.createDataFrame([("a",)], "tok string")
    assert cms_estimate(sk_a, keys, "tok").collect()[0].est == 10


def test_cms_probe_excludes_nulls_and_dedups_keys(spark):
    df = spark.createDataFrame([("a",), ("a",), ("b",)], "tok string")
    sk = cms_build(df, "tok", depth=4, width=512)
    keys = spark.createDataFrame([("a",), ("a",), (None,)], "tok string")
    rows = cms_estimate(sk, keys, "tok").collect()
    # one row per distinct non-null key: no spurious NULL estimate,
    # no duplicate-key multiplicity
    assert [(r.tok, r.est) for r in rows] == [("a", 2)]


def test_bloom_bitmap_pins_n_and_rejects_bench_plus_bitmap(spark):
    """The review-found footgun: a bitmap built with n=3 probed by a
    call defaulting to n=5 silently produced false negatives. The
    tuple now carries n, so the probe follows the build."""
    import pytest

    bench = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta")], "doc_id int, text string"
    )
    # corpus doc shares a 3-gram (but also a 5-gram — make it share
    # ONLY a 3-gram so the n actually matters)
    docs = spark.createDataFrame(
        [(10, "beta gamma delta unrelated tail words here")],
        "doc_id int, text string",
    )
    bm3 = build_bloom_bitmap(bench, n=3)
    kept = bloom_decontaminate(docs, bitmap=bm3)
    assert kept.count() == 0  # the 3-gram hit is honored

    # exact n=3 agrees; n=5 would have kept it (no shared 5-gram)
    assert decontaminate(docs, bench, n=3).count() == 0
    assert decontaminate(docs, bench, n=5).count() == 1

    with pytest.raises(ValueError, match="not both"):
        bloom_decontaminate(docs, bench=bench, bitmap=bm3)


# ---------------------------------------------------------------- HLL

from trainingdata_spark.textops.sketch import (  # noqa: E402
    hll_build,
    hll_estimate,
    hll_merge,
)


def test_hll_estimate_within_error_and_groupwise(spark):
    import pyspark.sql.functions as F

    n = 20000
    df = spark.range(n).select(
        (F.col("id") % 2).alias("grp"),
        F.concat(F.lit("u"), (F.col("id") % 5000)).alias("user"),
    )
    sk = hll_build(df, "user", group_cols=("grp",))
    est = {r.grp: r.n_distinct for r in hll_estimate(sk, ("grp",)).collect()}
    # each group sees 2500 distinct users; lgk=12 ~ 2% error
    for g in (0, 1):
        assert abs(est[g] - 2500) / 2500 < 0.05, est


def test_hll_merge_equals_build_on_union_and_is_idempotent(spark):
    import pyspark.sql.functions as F

    a = spark.range(0, 6000).select(F.concat(F.lit("k"), "id").alias("user"))
    b = spark.range(4000, 9000).select(F.concat(F.lit("k"), "id").alias("user"))
    sk_a, sk_b = hll_build(a, "user"), hll_build(b, "user")
    merged = hll_merge(sk_a, sk_b)
    union = hll_build(a.unionByName(b), "user")
    m = hll_estimate(merged).collect()[0].n_distinct
    u = hll_estimate(union).collect()[0].n_distinct
    assert abs(m - 9000) / 9000 < 0.05
    assert abs(m - u) / u < 0.02

    # set semantics: re-merging the same sketch changes nothing —
    # the replay-safety contrast with Count-Min
    again = hll_merge(merged, sk_b)
    assert hll_estimate(again).collect()[0].n_distinct == m


def test_cms_estimate_rejects_reserved_key_columns(spark):
    import pytest

    df = spark.createDataFrame([("a",)], "tok string")
    sk = cms_build(df, "tok", depth=2, width=64)
    bad = spark.createDataFrame([("a", 1)], "tok string, row int")
    with pytest.raises(ValueError, match="reserved"):
        cms_estimate(sk, bad, "tok")


# ------------------------------------------------------------ histogram

from trainingdata_spark.textops.sketch import (  # noqa: E402
    hist_build,
    hist_merge,
    hist_quantile,
)


def test_hist_quantile_within_bin_width_of_exact(spark):
    import pyspark.sql.functions as F

    n, lo, hi, bins = 20000, 0.0, 100.0, 64
    df = spark.range(n).select(
        (F.pmod(F.xxhash64("id"), 10000) / 100.0).alias("v")
    )
    h = hist_build(df, "v", lo, hi, bins)
    vals = sorted(r.v for r in df.collect())
    width = (hi - lo) / bins
    for q in (0.1, 0.5, 0.9, 0.99):
        est = hist_quantile(h, q).collect()[0].q_est
        exact = vals[min(int(q * n), n - 1)]
        assert abs(est - exact) <= width + 1e-9, (q, est, exact)


def test_hist_merge_equals_union_and_guards_edges(spark):
    import pytest
    import pyspark.sql.functions as F

    a = spark.range(0, 5000).select((F.col("id") % 97).cast("double").alias("v"))
    b = spark.range(0, 3000).select((F.col("id") % 53).cast("double").alias("v"))
    ha = hist_build(a, "v", 0.0, 100.0, 32)
    hb = hist_build(b, "v", 0.0, 100.0, 32)
    merged = {r.bin: r.cnt for r in hist_merge(ha, hb).collect()}
    union = {r.bin: r.cnt
             for r in hist_build(a.unionByName(b), "v", 0.0, 100.0, 32).collect()}
    assert merged == union

    hc = hist_build(b, "v", 0.0, 50.0, 32)  # different edges
    with pytest.raises(ValueError, match="incompatible"):
        hist_merge(ha, hc)


def test_hist_overflow_bins_and_groupwise(spark):
    df = spark.createDataFrame(
        [("a", -5.0), ("a", 5.0), ("a", 500.0), ("b", 5.0), ("b", None)],
        "grp string, v double",
    )
    h = hist_build(df, "v", 0.0, 10.0, 10, group_cols=("grp",))
    cells = {(r.grp, r.bin): r.cnt for r in h.collect()}
    # -5 -> bin -1 (underflow), 5 -> bin 5, 500 -> bin 10 (overflow);
    # NULL ignored
    assert cells == {("a", -1): 1, ("a", 5): 1, ("a", 10): 1, ("b", 5): 1}

    # quantiles clamp to [lo, hi] when the mass sits in overflow bins
    qa = {r.grp: r.q_est for r in hist_quantile(h, 0.99, ("grp",)).collect()}
    assert qa["a"] == 10.0  # overflow bin clamps to hi
    q0 = {r.grp: r.q_est for r in hist_quantile(h, 0.0, ("grp",)).collect()}
    assert q0["a"] == 0.0  # underflow bin clamps to lo


def test_hist_guards_reserved_cols_mixed_edges_and_nan(spark):
    """Review closures: reserved group_col names raise at build,
    mixed-edge relations raise at quantile time, and NaN is ignored
    like NULL (it would otherwise land in the overflow bin and drag
    upper quantiles to the clamp)."""
    import math

    import pytest
    import pyspark.sql.functions as F

    df = spark.createDataFrame([(1.0,), (5.0,)], "v double")
    with pytest.raises(ValueError, match="reserved"):
        hist_build(df.withColumn("bins", F.lit("x")), "v", 0.0, 10.0, 10,
                   group_cols=("bins",))

    ha = hist_build(df, "v", 0.0, 100.0, 32)
    hc = hist_build(df, "v", 0.0, 50.0, 32)
    with pytest.raises(ValueError, match="exactly one"):
        hist_quantile(ha.unionByName(hc), 0.5)

    nan_df = spark.createDataFrame(
        [(float("nan"),), (5.0,), (None,)], "v double"
    )
    cells = {r.bin: r.cnt for r in hist_build(nan_df, "v", 0.0, 10.0, 10).collect()}
    assert cells == {5: 1}  # NaN and NULL both ignored
    est = hist_quantile(hist_build(nan_df, "v", 0.0, 10.0, 10), 0.99).collect()[0].q_est
    assert est < 10.0 and not math.isnan(est)


def test_hist_quantiles_multi_q_matches_per_q(spark):
    import pyspark.sql.functions as F

    from trainingdata_spark.textops.sketch import hist_quantiles

    df = spark.range(5000).select(
        (F.pmod(F.xxhash64("id"), 7)).cast("string").alias("grp"),
        (F.pmod(F.xxhash64("id", F.lit(1)), 1000) / 10.0).alias("v"),
    )
    h = hist_build(df, "v", 0.0, 100.0, 32, ("grp",))
    qs = (0.25, 0.5, 0.9)
    multi = {
        (r.grp, r.q): r.q_est
        for r in hist_quantiles(h, qs, ("grp",)).collect()
    }
    assert len(multi) == 7 * len(qs)
    for q in qs:
        single = {r.grp: r.q_est for r in hist_quantile(h, q, ("grp",)).collect()}
        for grp, est in single.items():
            assert multi[(grp, q)] == est, (grp, q)

    # reserved-label guard: a relation already carrying `q` raises
    import pytest as _pytest

    with _pytest.raises(ValueError, match="'q' column"):
        hist_quantiles(h.withColumn("q", F.lit(1)), [0.5], ("grp",))
    with _pytest.raises(ValueError, match="duplicate"):
        hist_quantiles(h, [0.5, 0.5], ("grp",))
    with _pytest.raises(ValueError, match="at least one"):
        hist_quantiles(h, [], ("grp",))


def test_hist_quantile_tolerates_existing_q_column(spark):
    """ADVICE round-8: the single-q hist_quantile must keep working on
    a histogram relation that already carries a caller column named
    'q' (its internal label is a dunder now); only the multi-q
    hist_quantiles — whose OUTPUT claims the name — reserves it, and
    its error speaks as hist_quantiles."""
    import pytest
    from pyspark.sql import functions as F

    from trainingdata_spark.textops.sketch import (
        hist_build,
        hist_quantile,
        hist_quantiles,
    )

    df = spark.range(1000).select((F.col("id") % 100).cast("double").alias("v"))
    h = hist_build(df, "v", 0.0, 100.0, bins=20).withColumn("q", F.lit("keep"))
    got = hist_quantile(h, 0.5).first()["q_est"]
    assert 45.0 <= got <= 55.0
    with pytest.raises(ValueError, match="hist_quantiles"):
        hist_quantiles(h, [0.5, 0.9])
