"""Connected components (alternating large-star/small-star) and the
end-to-end near-dedup chain built on it.

Oracle: a driver-side union-find over the same edge list — exact
component structure must match on every graph shape tested.
"""

from __future__ import annotations

import random

from pyspark.sql import functions as F

from trainingdata_spark.operators.components import connected_components
from trainingdata_spark.textops.dedup import (
    dedup_clusters,
    near_dedup,
    verify_pairs_jaccard,
)


def _union_find(edges: list[tuple[int, int]]) -> dict[int, int]:
    """Min-label components by union-find — the test oracle."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


def _cc(spark, edges, nodes=None):
    e = spark.createDataFrame(edges or [(0, 0)], "src long, dst long")
    if not edges:
        e = e.filter(F.lit(False))
    n = spark.createDataFrame([(x,) for x in nodes], "id long") if nodes else None
    got = connected_components(e, nodes=n).collect()
    return {r["node"]: r["component"] for r in got}


def test_two_triangles_and_a_bridge(spark):
    edges = [(1, 2), (2, 3), (3, 1), (10, 11), (11, 12), (3, 10), (20, 21)]
    assert _cc(spark, edges) == _union_find(edges)


def test_long_chain_converges_logarithmically(spark):
    # a 120-node path is the worst case for naive min-label propagation
    # (O(diameter) rounds); alternating stars must still finish well
    # inside the iteration cap and label everything with the chain min
    edges = [(i, i + 1) for i in range(120)]
    got = _cc(spark, edges)
    assert got == {i: 0 for i in range(121)}


def test_random_graphs_match_union_find(spark):
    rng = random.Random(42)
    for trial in range(3):
        n = 60
        edges = [
            (rng.randrange(n), rng.randrange(n))
            for _ in range(40 + 20 * trial)
        ]
        edges = [e for e in edges if e[0] != e[1]]
        assert _cc(spark, edges) == _union_find(edges)


def test_isolated_nodes_label_themselves(spark):
    got = _cc(spark, [(1, 2)], nodes=[1, 2, 7, 9])
    assert got == {1: 1, 2: 1, 7: 7, 9: 9}


def test_empty_edges(spark):
    assert _cc(spark, [], nodes=[3, 4]) == {3: 3, 4: 4}


def test_string_node_ids(spark):
    e = spark.createDataFrame(
        [("b", "a"), ("c", "b"), ("x", "y")], "src string, dst string"
    )
    got = {r["node"]: r["component"] for r in connected_components(e).collect()}
    assert got == {"a": "a", "b": "a", "c": "a", "x": "x", "y": "x"}


# ------------------------------------------------ dedup chain end-to-end


_BASE = (
    "the quick brown fox jumps over the lazy dog while seven wizards "
    "brew quartz potions under a pale midnight sky near the old harbor"
)


def _corpus(spark):
    # group {1,2,3}: 1~2 and 2~3 are near-dups, 1 and 3 only
    # transitively; {10,11} exact near-dups; 20, 21 unique
    rows = [
        (1, _BASE),
        (2, _BASE + " with one extra trailing clause appended"),
        (3, _BASE + " with one extra trailing clause appended and more"),
        (10, "completely different second story about mountain goats " * 4),
        (11, "completely different second story about mountain goats " * 4 + "end"),
        (20, "unique short text that resembles nothing else in this corpus at all"),
        (21, "another singleton document with its own entirely private vocabulary"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_dedup_clusters_transitive(spark):
    got = {
        r["doc_id"]: r["cluster_id"]
        for r in dedup_clusters(_corpus(spark), k=16, bands=8).collect()
    }
    assert got[1] == got[2] == got[3] == 1
    assert got[10] == got[11] == 10
    assert got[20] == 20 and got[21] == 21


def test_near_dedup_keeps_one_canonical_per_cluster(spark):
    kept = sorted(
        r["doc_id"] for r in near_dedup(_corpus(spark), k=16, bands=8).collect()
    )
    assert kept == [1, 10, 20, 21]
    # survivors keep their full row, untouched
    row = near_dedup(_corpus(spark), k=16, bands=8).filter("doc_id = 1").first()
    assert row["text"] == _BASE


def test_verify_pairs_filters_lsh_false_positives(spark):
    df = _corpus(spark)
    pairs = spark.createDataFrame(
        [(1, 2), (1, 20)], "id_a long, id_b long"
    )  # (1,20) is a fabricated false positive
    got = verify_pairs_jaccard(df, pairs, min_jaccard=0.5).collect()
    assert [(r["id_a"], r["id_b"]) for r in got] == [(1, 2)]
    assert 0.5 <= got[0]["jaccard"] <= 1.0


def test_near_dedup_with_verification(spark):
    kept = sorted(
        r["doc_id"]
        for r in near_dedup(
            _corpus(spark), k=16, bands=8, verify_jaccard=0.4
        ).collect()
    )
    assert kept == [1, 10, 20, 21]


def test_near_dedup_score_col_keeps_best_scored_member(spark):
    """score_col survivor selection: the highest-scored member of each
    cluster survives (not the min id); NULL scores sort last; score
    ties break to the min id, so a constant score reproduces the
    default min-id output exactly."""
    import pyspark.sql.functions as F

    base = _corpus(spark)
    # cluster {1,2,3}: best score on 2; cluster {10,11}: NULL on 10 so
    # 11 wins; singletons 20/21 survive regardless of score
    scores = {1: 0.2, 2: 0.9, 3: 0.5, 10: None, 11: 0.1, 20: None, 21: 0.0}
    df = base.withColumn(
        "quality",
        F.element_at(
            F.create_map(
                *[F.lit(x) for kv in scores.items() for x in kv]
            ),
            F.col("doc_id"),
        ),
    )
    kept = sorted(
        r["doc_id"]
        for r in near_dedup(df, k=16, bands=8, score_col="quality").collect()
    )
    assert kept == [2, 11, 20, 21]
    # survivors keep their full row, untouched
    row = near_dedup(df, k=16, bands=8, score_col="quality").filter(
        "doc_id = 2"
    ).first()
    assert row["text"].startswith(_BASE) and row["quality"] == 0.9

    # constant score == default min-id selection
    const = base.withColumn("quality", F.lit(1.0))
    kept_const = sorted(
        r["doc_id"]
        for r in near_dedup(const, k=16, bands=8, score_col="quality").collect()
    )
    kept_default = sorted(
        r["doc_id"] for r in near_dedup(base, k=16, bands=8).collect()
    )
    assert kept_const == kept_default == [1, 10, 20, 21]


def test_connected_components_matches_duckdb_label_propagation(spark):
    """Cross-ENGINE oracle (round 10; the in-suite Python differential
    is same-process — this one is not): Spark's alternating-star
    components vs DuckDB running recursive min-label propagation over
    the same deterministic 8-cluster graph synthesized from the
    documents table. 16 propagation rounds ≥ the worst possible
    diameter of a ≤13-node component, so the oracle is at its fixpoint
    for ANY document subset; both sides label a component with its
    minimum node id, so the outputs must be row-identical."""
    import duckdb

    from pyspark.sql import functions as F

    from trainingdata_spark.operators.components import connected_components

    sf = "/root/testdata/sf0.001"
    d = F.col("doc_id")
    g = (d % 8) * 100
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    edges = docs.select(
        (g + d % 13).alias("src"), (g + (d * 7 + 3) % 13).alias("dst")
    )
    got = sorted(
        tuple(r)
        for r in connected_components(edges).select("node", "component").collect()
    )

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{sf}/documents.parquet'"
    )
    exp = sorted(
        map(
            tuple,
            con.execute(
                """
WITH RECURSIVE
base AS (
  SELECT (doc_id % 8) * 100 + (doc_id % 13) AS a,
         (doc_id % 8) * 100 + ((doc_id * 7 + 3) % 13) AS b
  FROM documents
),
edges AS (
  SELECT DISTINCT LEAST(a, b) AS u, GREATEST(a, b) AS v FROM base WHERE a <> b
),
nodes AS (
  SELECT DISTINCT node FROM (
    SELECT u AS node FROM edges UNION ALL SELECT v AS node FROM edges
  )
),
adjself AS (
  SELECT u AS x, v AS y FROM edges
  UNION ALL SELECT v AS x, u AS y FROM edges
  UNION ALL SELECT node AS x, node AS y FROM nodes
),
lab(iter, node, comp) AS (
  SELECT 0, node, node FROM nodes
  UNION ALL
  SELECT l.iter + 1, a.y AS node, MIN(l.comp)
  FROM lab l JOIN adjself a ON a.x = l.node
  WHERE l.iter < 16
  GROUP BY l.iter, a.y
)
SELECT node, comp AS component FROM lab WHERE iter = 16
"""
            ).fetchall(),
        )
    )
    con.close()
    assert len(got) > 50 and got == exp
