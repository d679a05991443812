"""Property test: duplicate_spans vs a brute-force Python oracle.

Tiny vocabularies force dense window repeats — the adversarial shape
for the keep-first exemption and the island merge. The oracle works
on exact token tuples; the operator on 64-bit window hashes, so
equality also certifies the hashing introduces no behavioral drift
at these sizes (collisions at 2⁻⁶⁴ are unobservable here).
"""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from trainingdata_spark.textops import spans

_SETTINGS = settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

WINDOW = 3

_doc = st.lists(
    st.sampled_from(["aa", "bb", "cc"]), min_size=0, max_size=14
)
_corpus = st.lists(_doc, min_size=1, max_size=4)


def _oracle(docs: dict[str, list[str]], window: int):
    """Brute-force reference: exact-tuple window occurrences, global
    count ≥ 2 duplicates, min (id, pos) exempt, overlap merge."""
    occ: dict[tuple, list[tuple[str, int]]] = {}
    for did in sorted(docs):
        toks = docs[did]
        for i in range(len(toks) - window + 1):
            occ.setdefault(tuple(toks[i : i + window]), []).append((did, i + 1))
    removals: dict[str, list[int]] = {}
    for positions in occ.values():
        if len(positions) < 2:
            continue
        first = min(positions)
        for did, pos in positions:
            if (did, pos) != first:
                removals.setdefault(did, []).append(pos)
    out = set()
    for did, poss in removals.items():
        poss = sorted(set(poss))
        start = prev = poss[0]
        for p in poss[1:]:
            if p - prev > window:
                out.add((did, start, prev + window - 1))
                start = p
            prev = p
        out.add((did, start, prev + window - 1))
    return out


@given(corpus=_corpus)
@_SETTINGS
def test_duplicate_spans_matches_bruteforce(spark, corpus):
    docs = {f"d{i:02d}": toks for i, toks in enumerate(corpus)}
    df = spark.createDataFrame(
        [(did, " ".join(toks)) for did, toks in docs.items()],
        "doc_id string, text string",
    )
    got = {
        (r["doc_id"], r["span_start"], r["span_end"])
        for r in spans.duplicate_spans(df, window=WINDOW).collect()
    }
    assert got == _oracle(docs, WINDOW)
