"""Hypothesis property tests for the round-4 corpus operators:
chunking vs its reference across random shapes, and token-budget
selection invariants vs a global-sort reference."""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from trainingdata_spark.textops.packing import chunk_documents
from trainingdata_spark.textops.sampling import select_token_budget

_SETTINGS = settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


# --------------------------------------------------------- chunking

CHUNK_CASE = st.tuples(
    st.lists(st.integers(min_value=0, max_value=60), min_size=1, max_size=6),
    st.integers(min_value=2, max_value=16),  # max_tokens
    st.integers(min_value=0, max_value=15),  # overlap (clamped below)
)


def _ref_chunks(n_toks: int, max_tokens: int, overlap: int):
    toks = [f"t{j}" for j in range(n_toks)]
    step = max_tokens - overlap
    starts = range(0, max(len(toks) - overlap, 1), step)
    return [
        (" ".join(toks[s : s + max_tokens]), min(len(toks) - s, max_tokens))
        for s in starts
    ]


@_SETTINGS
@given(CHUNK_CASE)
def test_chunking_matches_reference(spark, case):
    lengths, max_tokens, overlap = case
    overlap = min(overlap, max_tokens - 1)
    rows = [
        (i, " ".join(f"t{j}" for j in range(n))) for i, n in enumerate(lengths)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got: dict[int, list] = {}
    out = chunk_documents(df, max_tokens=max_tokens, overlap=overlap).collect()
    for r in sorted(out, key=lambda r: (r["doc_id"], r["chunk_id"])):
        got.setdefault(r["doc_id"], []).append((r["chunk_text"], r["chunk_tokens"]))
    for i, n in enumerate(lengths):
        assert got[i] == _ref_chunks(n, max_tokens, overlap), (i, n)


# ------------------------------------------------ budget selection

SELECT_CASE = st.tuples(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=10_000),  # score grid
            st.integers(min_value=1, max_value=200),  # n_tokens
        ),
        min_size=1,
        max_size=60,
    ),
    st.floats(min_value=0.05, max_value=1.2),  # budget as corpus fraction
)


@_SETTINGS
@given(SELECT_CASE)
def test_exact_selection_matches_global_sort(spark, case):
    items, frac = case
    rows = [(i, float(s), t) for i, (s, t) in enumerate(items)]
    total = sum(t for _, _, t in rows)
    budget = max(1, int(total * frac))
    df = spark.createDataFrame(rows, "doc_id long, score double, n_tokens long")
    got = {
        r["doc_id"]
        for r in select_token_budget(df, budget, n_buckets=16, exact=True).collect()
    }
    kept, spent = set(), 0
    for doc_id, score, nt in sorted(rows, key=lambda r: (-r[1], r[0])):
        if spent + nt > budget:
            break
        kept.add(doc_id)
        spent += nt
    assert got == kept
    # approximate mode is a subset and never exceeds the budget
    approx = select_token_budget(df, budget, n_buckets=16, exact=False)
    arows = approx.collect()
    assert {r["doc_id"] for r in arows} <= kept
    assert sum(r["n_tokens"] for r in arows) <= budget
