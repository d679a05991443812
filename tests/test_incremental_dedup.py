"""Incremental LSH dedup: new batches probe the stored band index
instead of re-signing history."""

from __future__ import annotations

from trainingdata_spark.textops.dedup import (
    band_index,
    incremental_lsh_pairs,
    incremental_near_dedup,
    lsh_candidate_pairs,
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


def test_new_batch_pairs_against_history_and_within(spark):
    old = _df(spark, [(1, BASE), (2, OTHER)])
    idx = band_index(old, k=16, bands=8)
    new = _df(
        spark,
        [
            (10, BASE + " with a tiny appended clause"),   # dup of 1
            (11, OTHER + " plus one more trailing word"),  # dup of 2
            (12, "entirely novel content about deep sea cartography and sonar"),
            (13, BASE + " with a tiny appended clause!"),  # dup of 10 (and 1)
        ],
    )
    pairs, new_idx = incremental_lsh_pairs(new, idx, k=16, bands=8)
    got = {(r["id_new"], r["id_other"]) for r in pairs.collect()}
    assert (10, 1) in got and (11, 2) in got and (13, 10) in got
    assert not any(a == 12 or b == 12 for a, b in got)
    # index rows cover every new doc across all 8 bands
    assert new_idx.count() == 4 * 8


def test_incremental_equals_full_recompute_on_union(spark):
    """Candidates from (old index + new batch) == pairs of the full
    union corpus restricted to pairs touching a new doc."""
    old_rows = [(1, BASE), (2, OTHER)]
    new_rows = [(10, BASE + " x"), (11, "novel standalone text piece here")]
    old, new = _df(spark, old_rows), _df(spark, new_rows)
    idx = band_index(old, k=16, bands=8)
    inc, _ = incremental_lsh_pairs(new, idx, k=16, bands=8)
    inc_set = {(r["id_new"], r["id_other"]) for r in inc.collect()}

    full = lsh_candidate_pairs(_df(spark, old_rows + new_rows), k=16, bands=8)
    new_ids = {10, 11}
    full_set = set()
    for r in full.collect():
        a, b = r["id_a"], r["id_b"]  # a < b; new ids are larger here
        if b in new_ids:
            full_set.add((b, a))
    assert inc_set == full_set


def test_incremental_near_dedup_first_writer_wins(spark):
    old = _df(spark, [(1, BASE)])
    idx = band_index(old, k=16, bands=8)
    new = _df(
        spark,
        [
            (10, BASE + " again"),      # collides with history -> dropped
            (11, OTHER),                # novel -> kept
            (12, OTHER + " tail"),      # collides with 11 (same batch) -> dropped
        ],
    )
    kept, kept_idx = incremental_near_dedup(new, idx, k=16, bands=8)
    assert sorted(r["doc_id"] for r in kept.collect()) == [11]
    # only the survivor's bands get appended
    assert {r["id"] for r in kept_idx.collect()} == {11}
    # replaying the SAME batch against the updated index is
    # warehouse-idempotent: doc 11's re-ingested content is UNCHANGED,
    # so its stored rows stay in the probe (the round-5 staleness rule
    # only retires rows whose (band, bh) no longer matches the
    # re-signing); 12's collision with STORED doc 11 contaminates the
    # component, so nothing new is selected — and nothing needs to be,
    # 11 is already stored.
    idx2 = idx.union(kept_idx)
    kept2, _ = incremental_near_dedup(new, idx2, k=16, bands=8)
    assert kept2.count() == 0
    # a canonical re-arriving ALONE matches only itself -> survives
    solo, solo_idx = incremental_near_dedup(
        new.filter("doc_id = 11"), idx2, k=16, bands=8
    )
    assert [r["doc_id"] for r in solo.collect()] == [11]
    assert {r["id"] for r in solo_idx.collect()} == {11}


def test_chain_through_dropped_batchmate(spark):
    # a doc whose only collision is an already-dropped batch-mate
    # resolves with that mate's component (transitively similar to
    # stored content -> dropped), not by id-order accident
    old = _df(spark, [(1, BASE)])
    idx = band_index(old, k=16, bands=8)
    new = _df(
        spark,
        [
            (10, BASE + " tail one"),          # dups history
            (11, BASE + " tail one more"),     # dups 10 (and 1): same component
            (12, "fully novel content about tidal marsh ecology and herons"),
        ],
    )
    kept, _ = incremental_near_dedup(new, idx, k=16, bands=8)
    assert sorted(r["doc_id"] for r in kept.collect()) == [12]
