"""Round-11 optimization differentials: every kernel the round
rewrote for speed is pinned IDENTICAL to its pre-round reference form
on adversarial inputs.

- ``_shingle_regex_array`` (native regexp_extract_all) vs the
  interpreted HOF ``_shingle_array`` over ``tokens_col`` — the shared
  shingle kernel of minhash / jaccard / decontam / shingles_df.
- ``char_ngrams`` (native lookahead regex + astral-plane HOF fallback)
  vs ``char_ngrams_hof`` (the round-8 reference form).
- ``grouped_percentiles`` single-array-buffer form vs per-quantile
  scalar ``percentile``/``approx_percentile`` calls.
- ``parse_blocklist_text`` VALUES LocalRelation vs row content, plan
  pinned Python-free (LocalTableScan, no RDD scan).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from trainingdata_spark.operators.percentiles import grouped_percentiles
from trainingdata_spark.textops.analysis import tokens_col
from trainingdata_spark.textops.dedup import (
    _shingle_array,
    _shingle_regex_array,
)
from trainingdata_spark.textops.langid import char_ngrams, char_ngrams_hof

# the adversarial corpus every kernel differential below runs over:
# empty, NULL, whitespace-only, fewer-than-n tokens, exactly-n,
# repeated shingles (multiplicity must survive), runs of mixed
# whitespace, leading/trailing space, supplementary-plane code points
# (lone-surrogate trap for UTF-16 regex scans), U+2028 line separator,
# quotes/backslashes
_TEXTS = [
    "",
    None,
    "   ",
    "\t\n  \t",
    "one",
    "one two",
    "one two three",
    "one two three four five six seven",
    "a a a a a a",
    "  leading and  trailing   space  ",
    "tabs\tand\nnewlines\r\nmixed here",
    "emoji \U0001f600 in \U0001f680\U0001f680 the middle",
    "\U0001f600\U0001f680",
    "line separator and paragraph",
    "quote ' backslash \\ both \\' end",
    "unicode café naïve 中文 рус",
]


def _text_df(spark):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(_TEXTS)], "id int, text string"
    )


@pytest.mark.parametrize("n", [1, 2, 3, 5])
def test_shingle_regex_matches_hof(spark, n):
    df = _text_df(spark)
    both = df.select(
        "id",
        _shingle_regex_array(n, F.col("text")).alias("fast"),
        F.col("text").alias("t"),
    ).withColumn("__toks", tokens_col(F.col("t"))).select(
        "id", "fast", _shingle_array(n).alias("ref")
    )
    rows = both.orderBy("id").collect()
    assert len(rows) == len(_TEXTS)
    for r in rows:
        assert r["fast"] == r["ref"], f"id={r['id']} n={n}: {r['fast']!r} != {r['ref']!r}"


def test_char_ngrams_matches_hof(spark):
    df = _text_df(spark)
    rows = df.select(
        "id",
        char_ngrams(F.col("text")).alias("fast"),
        char_ngrams_hof(F.col("text")).alias("ref"),
    ).orderBy("id").collect()
    for r in rows:
        assert r["fast"] == r["ref"], f"id={r['id']}: {r['fast']!r} != {r['ref']!r}"


def test_char_ngrams_custom_n_values(spark):
    df = _text_df(spark)
    rows = df.select(
        "id",
        char_ngrams(F.col("text"), n_values=(1, 4)).alias("fast"),
        char_ngrams_hof(F.col("text"), n_values=(1, 4)).alias("ref"),
    ).orderBy("id").collect()
    for r in rows:
        assert r["fast"] == r["ref"]


def _pct_df(spark):
    import random

    rnd = random.Random(11)
    rows = [
        (f"g{i % 7}", float(rnd.gauss(i % 7, 3.0))) for i in range(4000)
    ] + [("emptyish", 42.0)]
    return spark.createDataFrame(rows, "grp string, v double")


def test_percentiles_array_matches_scalar_exact(spark):
    df = _pct_df(spark)
    qs = (0.1, 0.5, 0.9, 0.99)
    got = grouped_percentiles(df, ["grp"], "v", qs, exact=True)
    ref = df.groupBy("grp").agg(
        *[
            F.expr(f"percentile(v, {q})").alias(f"p{int(q * 100)}_v")
            for q in qs
        ],
        F.count(F.lit(1)).alias("n"),
    )
    g = {r["grp"]: r for r in got.collect()}
    e = {r["grp"]: r for r in ref.collect()}
    assert g.keys() == e.keys()
    for k in g:
        assert g[k]["n"] == e[k]["n"]
        for q in qs:
            c = f"p{int(q * 100)}_v"
            assert g[k][c] == e[k][c], (k, c, g[k][c], e[k][c])


def test_percentiles_array_matches_scalar_approx(spark):
    df = _pct_df(spark)
    qs = (0.5, 0.9)
    got = grouped_percentiles(df, ["grp"], "v", qs, exact=False, accuracy=1000)
    ref = df.groupBy("grp").agg(
        *[
            F.expr(f"approx_percentile(v, {q}, 1000)").alias(f"p{int(q * 100)}_v")
            for q in qs
        ],
        F.count(F.lit(1)).alias("n"),
    )
    g = {r["grp"]: r for r in got.collect()}
    e = {r["grp"]: r for r in ref.collect()}
    assert g.keys() == e.keys()
    for k in g:
        for q in qs:
            c = f"p{int(q * 100)}_v"
            assert g[k][c] == e[k][c], (k, c)


def test_blocklist_small_list_is_local_relation(spark):
    from trainingdata_spark.textops.corpus_io import parse_blocklist_text

    text = "\n".join(
        [
            "# comment",
            "ads.example.com",
            "o'reilly.example",  # quote must survive the VALUES literal
            "back\\slash.example",
            "  spaced.example  ",
            "",
        ]
    )
    df = parse_blocklist_text(spark, text)
    rows = sorted(r["domain"] for r in df.collect())
    assert rows == sorted(
        ["ads.example.com", "o'reilly.example", "back\\slash.example", "spaced.example"]
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" in plan
    assert "Scan ExistingRDD" not in plan


def test_blocklist_small_list_with_category(spark):
    from trainingdata_spark.textops.corpus_io import parse_blocklist_text

    df = parse_blocklist_text(spark, "a.com\nb.org\n", category="ads")
    rows = sorted((r["domain"], r["category"]) for r in df.collect())
    assert rows == [("a.com", "ads"), ("b.org", "ads")]
    assert df.columns == ["domain", "category"]


def test_blocklist_empty_list(spark):
    from trainingdata_spark.textops.corpus_io import parse_blocklist_text

    df = parse_blocklist_text(spark, "# only comments\n\n")
    assert df.count() == 0
    assert df.columns == ["domain"]


def test_window_occurrences_match_hof_reference(spark):
    """The regex+post-explode window-hash kernel produces the exact
    (id, pos, h) multiset of the HOF reference (_window_hash_array
    over tokens_col), including short docs (zero windows), empty and
    NULL text."""
    from trainingdata_spark.textops.spans import (
        _window_hash_array,
        _window_occurrences,
    )

    df = _text_df(spark)
    for window in (2, 3, 8):
        got = _window_occurrences(df, "id", "text", window)
        ref = (
            df.withColumn("__toks", tokens_col(F.col("text")))
            .select(
                "id",
                F.posexplode(_window_hash_array(window)).alias("pos0", "h"),
            )
            .select("id", (F.col("pos0") + 1).alias("pos"), "h")
        )
        g = sorted(map(tuple, got.select("id", "pos", "h").collect()))
        r = sorted(map(tuple, ref.collect()))
        assert g == r, f"window={window}"
