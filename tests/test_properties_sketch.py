"""Hypothesis property tests for the sketch family: the guarantees
the fixed-seed tests pin at one point, checked across random shapes.

- Count-Min NEVER undercounts, for any key stream and any (tight)
  geometry — the one-sided guarantee is structural, not statistical.
- Bloom decontamination keeps a SUBSET of the exact probe's
  survivors for any corpus/benchmark pair — false positives are
  allowed, false negatives never.
"""

from __future__ import annotations

from collections import Counter

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from trainingdata_spark.textops.decontam import (
    bloom_decontaminate,
    decontaminate,
)
from trainingdata_spark.textops.sketch import cms_build, cms_estimate

_SETTINGS = settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

# key streams drawn from a tiny alphabet so collisions are common,
# geometry drawn tight so the sketch is genuinely lossy
CMS_CASE = st.tuples(
    st.lists(
        st.sampled_from([f"k{i}" for i in range(12)]), min_size=1, max_size=80
    ),
    st.integers(min_value=1, max_value=3),   # depth
    st.integers(min_value=2, max_value=16),  # width
)


@_SETTINGS
@given(CMS_CASE)
def test_cms_never_undercounts_any_stream(spark, case):
    keys, depth, width = case
    true = Counter(keys)
    df = spark.createDataFrame([(k,) for k in keys], "tok string")
    sk = cms_build(df, "tok", depth=depth, width=width)
    probe = spark.createDataFrame([(k,) for k in true], "tok string")
    est = {r.tok: r.est for r in cms_estimate(sk, probe, "tok").collect()}
    for k, t in true.items():
        assert est[k] >= t, (k, est[k], t, depth, width)
    # and the total over one hash row conserves mass exactly
    row0 = sum(r.cnt for r in sk.collect() if r.row == 0)
    assert row0 == len(keys)


WORDS = [f"w{i}" for i in range(10)]

BLOOM_CASE = st.tuples(
    st.lists(
        st.lists(st.sampled_from(WORDS), min_size=3, max_size=10),
        min_size=1,
        max_size=8,
    ),  # corpus docs (token lists)
    st.lists(
        st.lists(st.sampled_from(WORDS), min_size=3, max_size=8),
        min_size=1,
        max_size=3,
    ),  # benchmark docs
    st.integers(min_value=2, max_value=3),  # shingle width n
)


@_SETTINGS
@given(BLOOM_CASE)
def test_bloom_keeps_subset_of_exact_any_corpus(spark, case):
    corpus_toks, bench_toks, n = case
    docs = spark.createDataFrame(
        [(i, " ".join(t)) for i, t in enumerate(corpus_toks)],
        "doc_id int, text string",
    )
    bench = spark.createDataFrame(
        [(i, " ".join(t)) for i, t in enumerate(bench_toks)],
        "doc_id int, text string",
    )
    exact = {r.doc_id for r in decontaminate(docs, bench, n=n).select("doc_id").collect()}
    # tight bitmap (c=8/k=5): plenty of false positives, never a false
    # negative — the structural property under test
    bloom = {
        r.doc_id
        for r in bloom_decontaminate(
            docs, bench, n=n, bits_per_key=8, num_hashes=5
        )
        .select("doc_id")
        .collect()
    }
    assert bloom <= exact, (sorted(bloom - exact), n)


# ------------------------------------------------------------ histogram

from trainingdata_spark.textops.sketch import (  # noqa: E402
    hist_build,
    hist_merge,
    hist_quantile,
)

HIST_CASE = st.tuples(
    st.lists(
        st.floats(min_value=-50.0, max_value=150.0, allow_nan=False),
        min_size=1,
        max_size=60,
    ),
    st.integers(min_value=1, max_value=32),           # bins
    st.floats(min_value=0.0, max_value=1.0),          # q
)


@_SETTINGS
@given(HIST_CASE)
def test_hist_quantile_error_bounded_any_values(spark, case):
    """For any value set, any bin count and any q: the estimate is
    within one bin width of the exact empirical quantile — except
    when the exact quantile falls outside [lo, hi), where the state
    can only clamp (asserted separately)."""
    vals, bins, q = case
    lo, hi = 0.0, 100.0
    width = (hi - lo) / bins
    df = spark.createDataFrame([(v,) for v in vals], "v double")
    h = hist_build(df, "v", lo, hi, bins)
    est = hist_quantile(h, q).collect()[0].q_est
    svals = sorted(vals)
    # target mass matches the estimator's convention: first value
    # index reaching q*n cumulative mass
    import math
    idx = min(max(math.ceil(q * len(svals)) - 1, 0), len(svals) - 1)
    exact = svals[idx]
    if exact < lo:
        assert est == lo
    elif exact >= hi:
        assert est == hi
    else:
        assert abs(est - exact) <= width + 1e-9, (q, bins, est, exact)


@_SETTINGS
@given(
    st.tuples(
        st.lists(st.floats(min_value=0.0, max_value=99.0, allow_nan=False),
                 min_size=1, max_size=40),
        st.lists(st.floats(min_value=0.0, max_value=99.0, allow_nan=False),
                 min_size=1, max_size=40),
    )
)
def test_hist_merge_equals_union_any_split(spark, case):
    va, vb = case
    a = spark.createDataFrame([(v,) for v in va], "v double")
    b = spark.createDataFrame([(v,) for v in vb], "v double")
    merged = {r.bin: r.cnt
              for r in hist_merge(hist_build(a, "v", 0.0, 100.0, 16),
                                  hist_build(b, "v", 0.0, 100.0, 16)).collect()}
    union = {r.bin: r.cnt
             for r in hist_build(a.unionByName(b), "v", 0.0, 100.0, 16).collect()}
    assert merged == union
