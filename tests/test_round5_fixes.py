"""Round-5 fixes: exact-collapse before LSH pair emission (the
adversarial-duplication guard), and the incremental-dedup
within-batch staleness fix (re-ingested ids' stale index rows no
longer contaminate the history probe)."""

from __future__ import annotations

import random

from pyspark.sql import functions as F

from trainingdata_spark.textops.dedup import (
    _collapsed_rep_pairs,
    band_index,
    dedup_clusters,
    exact_rep_map,
    incremental_near_dedup,
    lsh_candidate_pairs,
    near_dedup,
)

BASE = (
    "the quick brown fox jumps over the lazy dog while seven wizards "
    "brew quartz potions under a pale midnight sky near the old harbor"
)
OTHER = (
    "completely different second story about mountain goats climbing "
    "steep granite walls in the early alpine morning light with bells"
)


def _df(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def _rand_doc(rng, vocab, n=30):
    return " ".join(rng.choice(vocab) for _ in range(n))


def test_exact_rep_map_basics(spark):
    df = _df(spark, [(1, "a b c"), (2, "a b c"), (5, "x y"), (3, "a b c")])
    got = {r["doc_id"]: r["__rep_id"] for r in exact_rep_map(df).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 5: 5}


def test_exact_rep_map_null_text_is_own_rep(spark):
    df = _df(spark, [(1, None), (2, None), (3, "t u v")])
    got = {r["doc_id"]: r["__rep_id"] for r in exact_rep_map(df).collect()}
    assert got == {1: 1, 2: 2, 3: 3}


def test_planted_1k_twin_group_pair_cardinality_is_o_groups(spark):
    """The VERDICT round-4 action item: a 1000-member exact-duplicate
    group (the shape FLAGSHIP.md's negative result #1 showed going
    quadratic at 437s) must emit O(groups²-per-bucket) candidate
    pairs, not O(members²) — i.e. the band self-join never sees more
    than one member per byte-identical group."""
    rng = random.Random(7)
    vocab = [f"tok{i}" for i in range(500)]
    distinct = [(1_000_000 + i, _rand_doc(rng, vocab)) for i in range(50)]
    twins = [(i, BASE) for i in range(1000)]
    df = _df(spark, twins + distinct)

    rep_map, rep_ids, pairs = _collapsed_rep_pairs(
        df, "doc_id", "text", n=3, k=16, bands=4
    )
    n_reps = rep_ids.count()
    assert n_reps == 51  # 1 rep for the twin group + 50 distinct docs
    n_pairs = pairs.count()
    # uncollapsed, the twin group alone contributes C(1000,2) = 499500
    assert n_pairs <= n_reps * (n_reps - 1) // 2
    assert n_pairs < 1000

    # end-to-end: exactly one twin survives (the min id, 0), and every
    # twin is labeled with cluster 0
    clusters = dedup_clusters(df, k=16, bands=4)
    twin_labels = {
        r["cluster_id"]
        for r in clusters.filter(F.col("doc_id") < 1000).collect()
    }
    assert twin_labels == {0}
    kept = near_dedup(df, k=16, bands=4)
    assert kept.filter(F.col("doc_id") < 1000).count() == 1
    assert kept.filter(F.col("doc_id") == 0).count() == 1


def test_collapsed_clusters_equal_uncollapsed(spark):
    """collapse_exact=True must be a pure performance change: cluster
    labels match the pre-round-5 uncollapsed plan row-for-row on a
    corpus mixing exact dups, near dups, and uniques."""
    rng = random.Random(11)
    vocab = [f"w{i}" for i in range(300)]
    rows = []
    for i in range(40):
        rows.append((i, _rand_doc(rng, vocab)))
    # exact-dup groups of the first 5 docs
    for g in range(5):
        for c in range(4):
            rows.append((100 + g * 10 + c, rows[g][1]))
    # near dups of docs 5..9 (append one word)
    for g in range(5, 10):
        rows.append((200 + g, rows[g][1] + " tail"))
    df = _df(spark, rows)

    a = dedup_clusters(df, k=16, bands=8, collapse_exact=True)
    b = dedup_clusters(df, k=16, bands=8, collapse_exact=False)
    sa = {(r["doc_id"], r["cluster_id"]) for r in a.collect()}
    sb = {(r["doc_id"], r["cluster_id"]) for r in b.collect()}
    assert sa == sb

    ka = {r["doc_id"] for r in near_dedup(df, k=16, bands=8).collect()}
    kb = {
        r["doc_id"]
        for r in near_dedup(df, k=16, bands=8, collapse_exact=False).collect()
    }
    assert ka == kb


def test_collapsed_clusters_equal_uncollapsed_with_verify(spark):
    rng = random.Random(13)
    vocab = [f"v{i}" for i in range(300)]
    rows = [(i, _rand_doc(rng, vocab)) for i in range(30)]
    rows += [(500 + i, rows[i][1]) for i in range(6)]       # exact dups
    rows += [(600 + i, rows[i][1] + " zz") for i in range(6, 12)]  # near dups
    df = _df(spark, rows)
    a = dedup_clusters(df, k=16, bands=8, verify_jaccard=0.5)
    b = dedup_clusters(
        df, k=16, bands=8, verify_jaccard=0.5, collapse_exact=False
    )
    assert {tuple(r) for r in a.collect()} == {tuple(r) for r in b.collect()}


def test_incremental_collapse_equivalence(spark):
    """Incremental ingest with collapse on/off keeps the same survivor
    set and the same survivor index rows."""
    old = _df(spark, [(1, BASE), (2, OTHER)])
    idx = band_index(old, k=16, bands=8)
    new = _df(
        spark,
        [
            (10, BASE + " appended"),          # near dup of history 1
            (11, "novel piece of standalone content one two three"),
            (12, "novel piece of standalone content one two three"),  # exact dup of 11
            (13, "novel piece of standalone content one two three"),  # exact dup of 11
            (14, "another unrelated fresh document about glaciers melting"),
        ],
    )
    kept_a, idx_a = incremental_near_dedup(new, idx, k=16, bands=8)
    kept_b, idx_b = incremental_near_dedup(
        new, idx, k=16, bands=8, collapse_exact=False
    )
    ids_a = {r["doc_id"] for r in kept_a.collect()}
    ids_b = {r["doc_id"] for r in kept_b.collect()}
    assert ids_a == ids_b == {11, 14}
    assert {tuple(r) for r in idx_a.collect()} == {
        tuple(r) for r in idx_b.collect()
    }


def test_incremental_twin_batch_pair_cardinality(spark):
    """A batch that is itself a giant exact-duplicate group must not
    go quadratic in the within-batch band self-join: survivors and
    index rows stay O(1), and the probe index is rep-collapsed."""
    old = _df(spark, [(1, OTHER)])
    idx = band_index(old, k=16, bands=4)
    new = _df(spark, [(i, BASE) for i in range(500)])
    kept, kept_idx = incremental_near_dedup(new, idx, k=16, bands=4)
    assert [r["doc_id"] for r in kept.collect()] == [0]
    assert kept_idx.count() == 4  # one surviving doc x 4 bands


def test_reingested_id_stale_bands_do_not_suppress_batchmates(spark):
    """The ADVICE round-4 staleness fix: batch re-ingests id 1 with
    CHANGED text, and the same batch carries doc 20 near-duplicating
    id 1's OLD text. The old behavior dropped 20 against index rows
    the batch itself retires; now those rows are excluded from the
    probe, so 20 survives (it matches nothing live)."""
    old = _df(spark, [(1, BASE), (2, OTHER)])
    idx = band_index(old, k=16, bands=8)
    new = _df(
        spark,
        [
            (1, "totally rewritten replacement text for document one here"),
            (20, BASE + " trailing"),  # near dup of id 1's OLD text only
        ],
    )
    kept, kept_idx = incremental_near_dedup(new, idx, k=16, bands=8)
    ids = {r["doc_id"] for r in kept.collect()}
    assert ids == {1, 20}
    # survivor index rows cover both docs' NEW bands
    assert kept_idx.count() == 2 * 8


def test_reingested_id_still_deduped_against_other_history(spark):
    """Excluding the re-ingested id's own stale rows must not exempt
    its NEW text from dedup against OTHER history rows."""
    old = _df(spark, [(1, BASE), (2, OTHER)])
    idx = band_index(old, k=16, bands=8)
    new = _df(spark, [(1, OTHER + " with a small suffix")])  # now dups id 2
    kept, kept_idx = incremental_near_dedup(new, idx, k=16, bands=8)
    assert kept.count() == 0
    assert kept_idx.count() == 0


def test_lsh_candidate_pairs_contract_unchanged(spark):
    """lsh_candidate_pairs (the oracle-checked operator) still emits
    member-level pairs — the collapse lives in the cluster/dedup
    consumers, not in the raw pair generator."""
    df = _df(spark, [(1, BASE), (2, BASE), (3, BASE)])
    got = {(r["id_a"], r["id_b"]) for r in lsh_candidate_pairs(df).collect()}
    assert got == {(1, 2), (1, 3), (2, 3)}


def test_ngram_prune_modes_identical_pairs(spark):
    """window / none / auto prune modes are a pure plan choice — the
    pair set (and jaccard values) must be identical."""
    rng = random.Random(17)
    vocab = [f"t{i}" for i in range(200)]
    rows = [(i, _rand_doc(rng, vocab)) for i in range(40)]
    rows += [(100 + i, rows[i][1] + " extra") for i in range(8)]
    df = _df(spark, rows)
    from trainingdata_spark.textops.dedup import ngram_jaccard_pairs

    def key(d):
        return {
            (r["id_a"], r["id_b"], round(r["jaccard"], 9)) for r in d.collect()
        }

    w = key(ngram_jaccard_pairs(df, prune="window"))
    n = key(ngram_jaccard_pairs(df, prune="none"))
    auto_small = key(ngram_jaccard_pairs(df, prune="auto"))  # -> window
    auto_big = key(ngram_jaccard_pairs(df, prune="auto", prune_threshold=0))  # -> none
    assert w == n == auto_small == auto_big
    assert len(w) > 0

    import pytest as _pytest

    with _pytest.raises(ValueError):
        ngram_jaccard_pairs(df, prune="bogus")


# ---------------------------------------------------- ADVICE round-4 fixes


def test_score_documents_does_not_persist_callers_model(spark):
    """score_documents used to persist the caller's model DataFrame as
    a side effect (one leaked vocab-sized cache per standalone call);
    it must leave the caller's object untouched."""
    from trainingdata_spark.textops.lm import score_documents, unigram_model

    docs = _df(spark, [(1, "a a b c"), (2, "a b b d e")])
    model = unigram_model(docs)
    scored = score_documents(docs, model)
    assert scored.count() == 2
    assert model.storageLevel.useMemory is False
    assert model.storageLevel.useDisk is False


def test_frequent_lines_handles_backtick_column_names(spark):
    """The inventory must accept column names that need backtick
    quoting (spaces/dots) — it used to interpolate the raw name into
    an F.expr SQL string."""
    from trainingdata_spark.textops.cleaning import frequent_lines, redact_pii

    rows = [(i, "shared boilerplate line\nunique line %d" % i) for i in range(10)]
    df = spark.createDataFrame(rows, ["doc_id", "doc text.col"])
    inv = frequent_lines(df, text_col="doc text.col", max_doc_frac=0.5)
    assert inv.count() == 1  # only the shared line recurs

    pii = redact_pii(
        spark.createDataFrame(
            [(1, "mail me at a@b.com or card 4111 1111 1111 1111")],
            ["doc_id", "doc text.col"],
        ),
        text_col="doc text.col",
        out_col="clean",
    ).first()
    assert "<EMAIL>" in pii["clean"] and "<CARD>" in pii["clean"]
    assert pii["n_pii"] == 2


def test_curate_cache_registry_receives_persist_handle(spark):
    from trainingdata_spark.textops.curate import curate

    import random as _random

    rng = _random.Random(31)
    vocab = [f"token{i}" for i in range(60)]
    docs = _df(
        spark,
        [(i, " ".join(rng.choice(vocab) for _ in range(60)) + " final.")
         for i in range(20)],
    )
    reg = []
    out = curate(docs, cache_registry=reg)
    assert out.count() > 0
    assert len(reg) == 1
    assert reg[0].storageLevel.useMemory or reg[0].storageLevel.useDisk
    reg[0].unpersist()
    assert reg[0].storageLevel.useMemory is False


def test_recipe_budget_selection_skips_degenerate_low_ppl_tail(spark):
    """Under a tight token budget, selection must prefer corpus-typical
    documents over the degenerate lowest-perplexity tail (the self-fit
    LM scores pure repetition as maximally probable)."""
    import random as _random

    from trainingdata_spark.textops.recipe import prepare_training_corpus

    rng = _random.Random(23)
    vocab = [f"word{i}" for i in range(80)]
    normal = [
        (i, " ".join(rng.choice(vocab) for _ in range(60)) + " end.")
        for i in range(30)
    ]
    # degenerate: a tiny repeated cycle (Gopher-passing length and
    # word shape, but near-minimal pseudo_ppl under the self-fit LM);
    # each gets a distinct id-token so exact dedup keeps them apart
    degen = [
        (100 + i, ("word0 word1 " * 30).strip() + f" tag{i} end.")
        for i in range(5)
    ]
    docs = spark.createDataFrame(normal + degen, "doc_id long, text string")

    res = prepare_training_corpus(
        docs,
        budget_tokens=600,  # tight: ~10 normal docs' worth
        chunk_max_tokens=64,
        chunk_overlap=0,
        dedup_kwargs={"k": 16, "bands": 4},
    )
    picked = {r["doc_id"] for r in res.corpus.select("doc_id").distinct().collect()}
    res.release()
    # the old -pseudo_ppl ranking picked the degenerate survivors first
    assert len(picked & {100, 101, 102, 103, 104}) == 0
    assert picked  # something was selected


def test_replayed_twin_does_not_displace_stored_canonical(spark):
    """Review regression: warehouse stores (5, T); a batch replays
    (5, T) unchanged AND adds a new twin (3, T). The unchanged stored
    rows must stay in the probe (only rows whose band hashes changed
    are retired), so the component anchors to stored doc 5 and the
    smaller-id twin 3 is dropped — not elected survivor beside the
    stored duplicate."""
    stored = _df(spark, [(5, BASE), (2, OTHER)])
    idx = band_index(stored, k=16, bands=8)
    batch = _df(spark, [(5, BASE), (3, BASE)])
    kept, kept_idx = incremental_near_dedup(batch, idx, k=16, bands=8)
    assert kept.count() == 0
    assert kept_idx.count() == 0

    # same shape with a NEAR (not exact) twin: still suppressed
    batch2 = _df(spark, [(5, BASE), (3, BASE + " almost identical tail")])
    kept2, _ = incremental_near_dedup(batch2, idx, k=16, bands=8)
    assert kept2.count() == 0


def test_with_fingerprint_matches_reference_md5(spark):
    """doc_fingerprint ceded its registry slot to doc_rep_map (50-row
    harness window), so the whole-doc digest gets its differential
    check here: Spark md5-of-normalized-text vs hashlib on the same
    normalization, including unicode stripping and a NULL text."""
    import hashlib

    from trainingdata_spark.textops.analysis import with_fingerprint

    rows = [
        (1, "Hello, World!  "),
        (2, "helloworld"),           # same normalized content as 1
        (3, "naïve café 123"),       # non-ASCII letters are stripped
        (4, ""),
        (5, None),
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    got = {r["doc_id"]: r["fingerprint"]
           for r in with_fingerprint(df).select("doc_id", "fingerprint").collect()}

    import re as _re

    for doc_id, text in rows:
        if text is None:
            assert got[doc_id] is None
            continue
        norm = _re.sub(r"[^A-Za-z0-9]", "", text).lower()
        assert got[doc_id] == hashlib.md5(norm.encode()).hexdigest(), doc_id
    assert got[1] == got[2]
