"""Round-6 advice fixes: count_distinct null-only-group retention,
HTML-entity-safe alert clipping, loud stream-identity failure, and
the BPE driver-memory cap."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

import retired_queries as retired
from binancedatapipeline_spark.notifications import _clip_escaped, format_alert


# ------------------------------------------------- count_distinct NULLs


def _count_distinct_plan(li):
    """The registry query's plan applied to an arbitrary lineitem-shaped
    frame (the registry callable is bound to a parquet dir) — since
    round 12 the single two-countDistinct aggregate (the sf1-measured
    winner; see q_count_distinct's docstring)."""
    return li.groupBy("l_suppkey").agg(
        F.countDistinct("l_partkey").alias("n_parts"),
        F.countDistinct("l_orderkey").alias("n_orders"),
    )


def test_count_distinct_keeps_null_only_groups(spark):
    """COUNT(DISTINCT x) returns a group with 0 when x is all-NULL; the
    two-branch rewrite must not drop such a group (round-5 advice:
    the old isNotNull pre-filter + inner join omitted it)."""
    li = spark.createDataFrame(
        [
            # group 1: normal
            (1, 10, 100),
            (1, 11, 100),
            # group 2: partkey all NULL, orderkey present
            (2, None, 200),
            (2, None, 201),
            # group 3: both columns all NULL — still a group
            (3, None, None),
            # group 4: mixed null/non-null in one column
            (4, 40, None),
            (4, None, 400),
        ],
        "l_suppkey long, l_partkey long, l_orderkey long",
    )
    got = {
        r["l_suppkey"]: (r["n_parts"], r["n_orders"])
        for r in _count_distinct_plan(li).collect()
    }
    assert got == {1: (2, 1), 2: (0, 2), 3: (0, 0), 4: (1, 1)}


def test_count_distinct_matches_duckdb_with_nulls(spark, tmp_path):
    import duckdb

    rows = [
        (s, None if (s + i) % 3 == 0 else (s * 7 + i) % 5, None if i % 4 == 0 else i % 6)
        for s in range(1, 8)
        for i in range(10)
    ]
    li = spark.createDataFrame(rows, "l_suppkey long, l_partkey long, l_orderkey long")
    p = str(tmp_path / "li.parquet")
    li.write.mode("overwrite").parquet(p)
    con = duckdb.connect()
    exp = {
        r[0]: (r[1], r[2])
        for r in con.execute(
            "SELECT l_suppkey, count(DISTINCT l_partkey), count(DISTINCT l_orderkey) "
            f"FROM '{p}/*.parquet' GROUP BY l_suppkey"
        ).fetchall()
    }
    con.close()
    got = {
        r["l_suppkey"]: (r["n_parts"], r["n_orders"])
        for r in _count_distinct_plan(spark.read.parquet(p)).collect()
    }
    assert got == exp


def test_registry_count_distinct_still_plans_clean(spark, testdata_dir=None):
    """The NULL fix must not reintroduce value-set aggregation. Since
    round 12 Expand is the DELIBERATE shape (the two-gid distinct
    aggregate, 1.8x faster at sf1 than the branch-join — see
    q_count_distinct); what stays banned is materializing per-group
    value sets."""
    import os

    sf = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")
    df = retired.queries()["count_distinct"](spark, sf)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Expand" in plan
    assert "ObjectHashAggregate" not in plan
    assert "collect_set" not in plan


# ------------------------------------------------------- entity clip


def test_clip_escaped_never_slices_entity():
    text = "x" * 10 + "&amp;" + "y" * 10
    for limit in range(2, len(text) + 2):
        out = _clip_escaped(text, limit)
        assert len(out) <= limit
        # no dangling partial entity: every & is followed by a ;
        amp = out.rfind("&")
        if amp != -1:
            assert ";" in out[amp:], (limit, out)


def test_clip_escaped_literal_ampersand_word_untouched():
    # escape('&amp') == '&amp;amp' — the trailing 'amp' is literal text
    # and a clip landing inside it must NOT back off past the real
    # entity's ';'
    text = "&amp;amp"
    out = _clip_escaped(text, 8)
    assert out == "&amp;am…" or out.endswith("…")
    amp = out.rfind("&")
    assert ";" in out[amp:]


def test_format_alert_table_clip_stays_wellformed(spark):
    df = spark.createDataFrame(
        [("A&B " * 50, i) for i in range(5)], "sym string, v int"
    )
    out = format_alert("alert & more", df, max_rows=5, max_len=300)
    assert len(out) <= 300
    # strip tags, then confirm every & starts a complete entity
    body = out.replace("<pre>", "").replace("</pre>", "")
    i = 0
    while True:
        i = body.find("&", i)
        if i == -1:
            break
        semi = body.find(";", i)
        assert semi != -1 and semi - i <= 6, body[i : i + 10]
        i += 1


# ------------------------------------------------- stream identity


def test_stream_identity_raises_on_unreadable(tmp_path):
    from trainingdata_spark.streaming import _stream_identity

    with pytest.raises(RuntimeError, match="refusing to fall back"):
        _stream_identity("nosuchscheme://host/chk")


def test_stream_identity_reads_local_metadata(tmp_path):
    import json

    from trainingdata_spark.streaming import _stream_identity

    chk = tmp_path / "chk"
    chk.mkdir()
    (chk / "metadata").write_text(json.dumps({"id": "abc-123"}))
    assert _stream_identity(str(chk)) == "abc-123"


# ------------------------------------------------------------- bpe cap


def test_bpe_default_cap_is_driver_safe():
    import inspect

    from trainingdata_spark.textops.bpe import train_bpe

    cap = inspect.signature(train_bpe).parameters["max_vocab_words"].default
    assert cap <= 1_000_000


# --------------------------------------- ngram_jaccard exact collapse


def _pairs_key(rows):
    return sorted(
        (r["id_a"], r["id_b"], r["n_common"], r["n_a"], r["n_b"],
         round(r["jaccard"], 9))
        for r in rows
    )


def test_ngram_jaccard_collapsed_identical_pairs(spark):
    """collapse_exact=True must reproduce the uncollapsed pair
    relation exactly — member-level pairs reconstructed through the
    rep map, including deep exact-twin groups, partial overlaps,
    empty and null texts."""
    import random

    from trainingdata_spark.textops.dedup import ngram_jaccard_pairs

    rng = random.Random(7)
    vocab = [f"w{i}" for i in range(40)]
    rows = []
    doc_id = 0
    # 12 distinct base docs, some cloned into twin groups of 1..6
    for b in range(12):
        text = " ".join(rng.choice(vocab) for _ in range(25))
        for _ in range(rng.randint(1, 6)):
            rows.append((doc_id, text))
            doc_id += 1
    # partial-overlap docs (share a prefix with base 0's text)
    base0 = rows[0][1]
    for _ in range(4):
        rows.append((doc_id, base0 + " " + " ".join(rng.choice(vocab) for _ in range(10))))
        doc_id += 1
    # degenerate docs: empty, 1-token (no 3-gram), null — twice each
    for t in ["", "", "single", "single", None, None]:
        rows.append((doc_id, t))
        doc_id += 1
    df = spark.createDataFrame(rows, "doc_id long, text string")

    for mj in (0.0, 0.2):
        plain = ngram_jaccard_pairs(df, min_jaccard=mj, prune="window")
        coll = ngram_jaccard_pairs(
            df, min_jaccard=mj, prune="window", collapse_exact=True
        )
        assert _pairs_key(coll.collect()) == _pairs_key(plain.collect()), mj


def test_ngram_jaccard_collapsed_twin_group_linear(spark):
    """A planted 60-member exact group must yield exactly C(60,2)
    intra pairs with jaccard 1.0 — and the rep-level join must see
    ONE member (collapse really happened)."""
    from trainingdata_spark.textops.dedup import ngram_jaccard_pairs

    text = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = [(i, text) for i in range(60)] + [(100 + i, f"unique doc number {i} totally different words here") for i in range(5)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = ngram_jaccard_pairs(df, prune="none", collapse_exact=True)
    twins = out.filter((F.col("id_a") < 60) & (F.col("id_b") < 60)).collect()
    assert len(twins) == 60 * 59 // 2
    assert all(abs(r["jaccard"] - 1.0) < 1e-12 for r in twins)
