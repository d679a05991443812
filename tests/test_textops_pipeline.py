"""Training-data pipeline ops: decontamination, sequence packing,
stable splits/sampling."""

from __future__ import annotations

from pyspark.sql import functions as F

from trainingdata_spark.textops.decontam import (
    contamination_hits,
    decontaminate,
)
from trainingdata_spark.textops.packing import pack_sequences
from trainingdata_spark.textops.sampling import (
    hash_sample,
    stable_split,
)


# ------------------------------------------------------- decontamination


def _docs(spark, rows):
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_contamination_flags_exact_ngram_overlap(spark):
    bench = _docs(spark, [(100, "the quick brown fox jumps over the dog")])
    docs = _docs(
        spark,
        [
            # contains "quick brown fox jumps over" (5-gram of bench)
            (1, "intro words then quick brown fox jumps over and out"),
            # shares words but never 5 consecutive ones
            (2, "quick fox brown jumps dog over the lazy cat"),
        ],
    )
    hits = {r["doc_id"]: r["n_hits"] for r in contamination_hits(docs, bench, n=5).collect()}
    assert 1 in hits and hits[1] >= 1
    assert 2 not in hits


def test_decontaminate_removes_only_contaminated(spark):
    bench = _docs(spark, [(100, "alpha beta gamma delta epsilon zeta")])
    docs = _docs(
        spark,
        [
            (1, "x alpha beta gamma delta epsilon y"),
            (2, "completely unrelated clean document text here"),
        ],
    )
    kept = [r["doc_id"] for r in decontaminate(docs, bench, n=5).collect()]
    assert kept == [2]


def test_short_doc_contamination_uses_whole_text_shingle(spark):
    # docs shorter than n tokens shingle to their whole text (the
    # greatest(.., 1) guard) — identical short docs must still match
    bench = _docs(spark, [(100, "tiny doc")])
    docs = _docs(spark, [(1, "tiny doc"), (2, "other text")])
    hits = [r["doc_id"] for r in contamination_hits(docs, bench, n=5).collect()]
    assert hits == [1]


# ------------------------------------------------------- sequence packing


def test_pack_sequences_bins_by_cumulative_budget(spark):
    rows = [("g", i, 300) for i in range(4)]  # cum before: 0,300,600,900
    df = spark.createDataFrame(rows, ["g", "doc_id", "n_tokens"])
    out = {r["doc_id"]: r["seq_id"] for r in pack_sequences(df, 500, ["g"]).collect()}
    assert out == {0: 0, 1: 0, 2: 1, 3: 1}


def test_pack_sequences_is_per_group(spark):
    rows = [("a", 0, 400), ("a", 1, 400), ("b", 2, 400)]
    df = spark.createDataFrame(rows, ["g", "doc_id", "n_tokens"])
    out = {r["doc_id"]: r["seq_id"] for r in pack_sequences(df, 500, ["g"]).collect()}
    # group b restarts at bin 0 regardless of group a's fill level
    assert out == {0: 0, 1: 0, 2: 0}


def test_pack_sequences_oversized_doc_gets_own_bins(spark):
    rows = [("g", 0, 1200), ("g", 1, 100)]
    df = spark.createDataFrame(rows, ["g", "doc_id", "n_tokens"])
    out = {r["doc_id"]: r["seq_id"] for r in pack_sequences(df, 500, ["g"]).collect()}
    # doc 0 starts at bin 0; doc 1 starts after 1200 tokens -> bin 2
    assert out == {0: 0, 1: 2}


# ------------------------------------------------------- stable splits


def test_stable_split_deterministic_and_proportional(spark):
    df = spark.range(0, 2000).withColumnRenamed("id", "doc_id")
    a = stable_split(df).groupBy("split").count().collect()
    b = stable_split(df).groupBy("split").count().collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    counts = {r["split"]: r["count"] for r in a}
    assert set(counts) == {"train", "val", "test"}
    assert 0.75 <= counts["train"] / 2000 <= 0.85
    assert 0.05 <= counts["val"] / 2000 <= 0.15
    assert 0.05 <= counts["test"] / 2000 <= 0.15


def test_stable_split_membership_survives_new_data(spark):
    # adding rows must never move an existing id between splits
    small = stable_split(spark.range(0, 500).withColumnRenamed("id", "doc_id"))
    big = stable_split(spark.range(0, 5000).withColumnRenamed("id", "doc_id"))
    joined = small.alias("s").join(
        big.alias("b"), F.col("s.doc_id") == F.col("b.doc_id")
    )
    assert joined.filter(F.col("s.split") != F.col("b.split")).count() == 0


def test_hash_sample_fraction_and_stability(spark):
    df = spark.range(0, 10_000).withColumnRenamed("id", "doc_id")
    s1 = hash_sample(df, "doc_id", 0.1)
    n = s1.count()
    assert 800 <= n <= 1200
    assert s1.exceptAll(hash_sample(df, "doc_id", 0.1)).count() == 0
    # nested property: a 5% sample is a subset of the 10% sample
    s2 = hash_sample(df, "doc_id", 0.05)
    assert s2.join(s1, "doc_id", "left_anti").count() == 0


# ------------------------------------------------------- properties

import pandas as pd  # noqa: E402
from hypothesis import HealthCheck, given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402

_SETTINGS = settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

_TOKEN_COUNTS = st.lists(
    st.tuples(
        st.sampled_from(["a", "b"]),               # group
        st.integers(min_value=1, max_value=400),   # n_tokens
    ),
    min_size=1,
    max_size=30,
)


@given(rows=_TOKEN_COUNTS, budget=st.integers(min_value=50, max_value=500))
@_SETTINGS
def test_pack_sequences_invariants(spark, rows, budget):
    """(a) bins are non-decreasing in doc order; (b) a bin's tokens
    never exceed budget + its largest doc (boundary straddle bound);
    (c) packing partitions the group (no doc lost or duplicated)."""
    pdf = pd.DataFrame(
        [(g, i, n) for i, (g, n) in enumerate(rows)],
        columns=["g", "doc_id", "n_tokens"],
    )
    df = spark.createDataFrame(pdf)
    out = pack_sequences(df, budget, ["g"]).collect()
    assert len(out) == len(rows)
    by_group: dict[str, list] = {}
    for r in sorted(out, key=lambda r: r["doc_id"]):
        by_group.setdefault(r["g"], []).append(r)
    for g, rs in by_group.items():
        seqs = [r["seq_id"] for r in rs]
        assert seqs == sorted(seqs), "bins must be non-decreasing in order"
        bins: dict[int, list] = {}
        for r in rs:
            bins.setdefault(r["seq_id"], []).append(r["n_tokens"])
        for toks in bins.values():
            assert sum(toks) <= budget + max(toks)


_SMALL_DOCS = st.lists(
    st.lists(st.sampled_from(["x", "y", "z", "w"]), min_size=1, max_size=8),
    min_size=1,
    max_size=10,
)


@given(doc_toks=_SMALL_DOCS, bench_toks=_SMALL_DOCS)
@_SETTINGS
def test_contamination_matches_bruteforce(spark, doc_toks, bench_toks):
    """Operator output equals a brute-force Python n-gram overlap
    check on tiny random corpora (n=2; whole-text shingle when a doc
    is shorter)."""
    n = 2

    def sh(toks):
        if len(toks) < n:
            return {" ".join(toks)}
        return {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}

    bench_set = set().union(*(sh(t) for t in bench_toks))
    exp = {
        i: len(sh(t) & bench_set)
        for i, t in enumerate(doc_toks)
        if sh(t) & bench_set
    }
    docs = spark.createDataFrame(
        [(i, " ".join(t)) for i, t in enumerate(doc_toks)], ["doc_id", "text"]
    )
    bench = spark.createDataFrame(
        [(1000 + i, " ".join(t)) for i, t in enumerate(bench_toks)],
        ["doc_id", "text"],
    )
    got = {
        r["doc_id"]: r["n_hits"]
        for r in contamination_hits(docs, bench, n=n).collect()
    }
    assert got == exp


def test_mixture_sample_rates_and_stability(spark):
    from trainingdata_spark.textops.sampling import mixture_sample

    rows = [(i, "web" if i % 2 == 0 else "books") for i in range(4000)]
    df = spark.createDataFrame(rows, "doc_id long, domain string")
    out = mixture_sample(df, "domain", {"web": 0.3, "books": 1.0})
    counts = {r["domain"]: r["n"] for r in
              out.groupBy("domain").agg(F.count("*").alias("n")).collect()}
    assert counts["books"] == 2000                  # rate 1.0 keeps all
    assert abs(counts["web"] - 600) < 120           # ~30% of 2000
    # stability: same rows every run, and a subset of a higher rate
    ids1 = {r["doc_id"] for r in out.select("doc_id").collect()}
    ids2 = {r["doc_id"] for r in
            mixture_sample(df, "domain", {"web": 0.3, "books": 1.0})
            .select("doc_id").collect()}
    assert ids1 == ids2
    wider = {r["doc_id"] for r in
             mixture_sample(df, "domain", {"web": 0.6, "books": 1.0})
             .select("doc_id").collect()}
    assert ids1 <= wider                            # nested samples
    # unknown domains fall back to default_rate
    df2 = spark.createDataFrame([(1, "code")], "doc_id long, domain string")
    assert mixture_sample(df2, "domain", {"web": 0.3}).count() == 1
    assert mixture_sample(df2, "domain", {"web": 0.3}, default_rate=0.0).count() == 0


def test_mixture_oversample_repetition(spark):
    from trainingdata_spark.textops.sampling import (
        mixture_oversample,
        mixture_sample,
    )

    rows = [(i, "code" if i % 2 == 0 else "web") for i in range(2000)]
    df = spark.createDataFrame(rows, "doc_id long, domain string")
    out = mixture_oversample(df, "domain", {"code": 2.5, "web": 1.0})
    counts = {r["domain"]: r["n"] for r in
              out.groupBy("domain").agg(F.count("*").alias("n")).collect()}
    assert counts["web"] == 1000                     # rate 1.0 unchanged
    assert abs(counts["code"] - 2500) < 150          # 2.5 epochs of 1000
    # every code doc appears at least twice, copy_idx dense from 0
    per_doc = out.filter("domain = 'code'").groupBy("doc_id").agg(
        F.count("*").alias("n"), F.max("copy_idx").alias("mx"))
    bad = per_doc.filter("n < 2 or mx != n - 1").count()
    assert bad == 0
    # deterministic across runs
    a = sorted((r["doc_id"], r["copy_idx"]) for r in out.collect())
    b = sorted((r["doc_id"], r["copy_idx"]) for r in
               mixture_oversample(df, "domain", {"code": 2.5, "web": 1.0}).collect())
    assert a == b
    # sub-1 rates degenerate to mixture_sample membership
    down = mixture_oversample(df, "domain", {"web": 0.3, "code": 1.0})
    kept = {r["doc_id"] for r in down.filter("domain='web'").collect()}
    ref = {r["doc_id"] for r in
           mixture_sample(df, "domain", {"web": 0.3, "code": 1.0})
           .filter("domain='web'").collect()}
    assert kept == ref


def test_tfidf_top_terms_matches_duckdb(spark):
    """TF-IDF differential vs DuckDB on the same corpus: identical
    (doc, term, tf, rank) and tfidf within float tolerance, with the
    deterministic (-tfidf, term) tie order."""
    import duckdb

    from trainingdata_spark.textops.analysis import tfidf_top_terms

    rows = [
        (1, "the cat sat on the mat"),
        (2, "the dog ate the cat food"),
        (3, "quantum flux capacitors need plutonium"),
        (4, "the the the the"),
        (5, None),
        (6, "  spaced   Out   tokens  "),
    ]
    docs = spark.createDataFrame(rows, "doc_id int, text string")
    got = {
        (r.doc_id, r.term_rank): (r.term, r.tf, r.tfidf)
        for r in tfidf_top_terms(docs, k=3).collect()
    }

    con = duckdb.connect()
    con.execute("CREATE TABLE docs(doc_id INT, text VARCHAR)")
    con.executemany("INSERT INTO docs VALUES (?, ?)", rows)
    exp = con.execute("""
WITH tok AS (
  SELECT doc_id, t AS term
  FROM docs, UNNEST(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')) AS u(t)
  WHERE length(t) > 0
),
tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
n AS (SELECT count(DISTINCT doc_id) AS n FROM docs),
scored AS (
  SELECT tf.doc_id, tf.term, tf.tf,
         tf.tf * (ln((1 + n.n)::DOUBLE / (1 + dfq.df)) + 1) AS tfidf
  FROM tf JOIN dfq USING (term) CROSS JOIN n
)
SELECT doc_id, term, tf, tfidf,
       row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term) AS rnk
FROM scored QUALIFY rnk <= 3
""").fetchall()
    expect = {(d, r): (t, tf, tfidf) for d, t, tf, tfidf, r in exp}
    assert set(got) == set(expect)
    for key in expect:
        assert got[key][0] == expect[key][0], (key, got[key], expect[key])
        assert got[key][1] == expect[key][1]
        assert abs(got[key][2] - expect[key][2]) < 1e-9
    # doc 5 (NULL) contributes no rows but still counts toward N via
    # count_distinct over the input — pin that N includes it the same
    # way on both sides (both count 6 docs)
    assert not any(d == 5 for d, _ in got)


def test_tfidf_single_pass_plan(spark):
    """The corpus is tokenized exactly ONCE in every df_mode, and the
    call has no persist side effect (no cache handle to manage; the
    old materialize_tf/cache_registry contract is gone since round
    10). Round 12: the default broadcast mode re-derives df from the
    tf aggregate's own shuffle files — the final plan must show a
    ReusedExchange and a single Generate (the sum(when) pruning
    barrier in analysis.py is what keeps the two branches'
    exchanges canonically equal)."""
    from trainingdata_spark.textops.analysis import tfidf_top_terms

    docs = spark.createDataFrame(
        [(1, "a b c"), (2, "a d")], "doc_id int, text string"
    )
    before = {
        int(k)
        for k in spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray()
    }
    for mode, want_reuse in (("broadcast", True), ("window", False)):
        out = tfidf_top_terms(docs, k=2, df_mode=mode)
        assert len(out.collect()) > 0  # execute THIS plan so AQE finalizes
        plan = out._jdf.queryExecution().executedPlan().toString()
        final = plan.split("== Initial Plan ==")[0]  # AQE prints both
        assert final.count("Generate") == 1, (mode, plan)  # tokenized once
        if want_reuse:
            assert "ReusedExchange" in final, (mode, plan)
    after = {
        int(k)
        for k in spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray()
    }
    assert after - before == set()  # no persist side effect


def test_mixture_sample_matches_independent_reference(spark):
    """Randomized cross-implementation differential: mixture_sample's
    kept set must equal a hashlib-computed reference (same md5 →
    56-bit → mod bucket math, written independently of Spark) for
    arbitrary rates including the 0 / 1 / >1 / negative edges."""
    import hashlib
    import random

    from trainingdata_spark.textops.sampling import mixture_sample

    rng = random.Random(17)
    domains = [f"d{i}" for i in range(6)]
    rows = [(i, domains[i % 6]) for i in range(600)]
    df = spark.createDataFrame(rows, "doc_id long, domain string")

    def ref_bucket(doc_id: int, buckets: int = 10_000) -> int:
        h = hashlib.md5(str(doc_id).encode()).hexdigest()
        return int(h[:14], 16) % buckets

    for trial in range(5):
        rates = {
            d: rng.choice([0.0, 1.0, 1.7, -0.3, rng.random()])
            for d in rng.sample(domains, 4)
        }
        default = rng.random()
        got = {
            r["doc_id"]
            for r in mixture_sample(
                df, "domain", rates, id_col="doc_id", default_rate=default
            ).collect()
        }
        expect = set()
        for i, d in rows:
            rate = rates.get(d, default)
            keep = int(round(min(max(rate, 0.0), 1.0) * 10_000))
            if ref_bucket(i) < keep:
                expect.add(i)
        assert got == expect, (trial, rates, default)
