"""Round-8 composition proof: the advertised crawl-to-trainer pipeline
runs END TO END through one lazy chain — raw WARC -> document shape ->
domain blocklist curation -> quality-aware near-dedup -> deterministic
shard export with a validated manifest. Every stage is individually
tested elsewhere; this pins that they actually COMPOSE on the shared
(doc_id, url, text) document shape."""

from __future__ import annotations

import pyspark.sql.functions as F

from trainingdata_spark.textops.corpus_io import (
    parse_blocklist_text,
    warc_documents,
)
from trainingdata_spark.textops.curate import curate
from trainingdata_spark.textops.dedup import near_dedup
from trainingdata_spark.textops.export import (
    read_training_shards,
    write_training_shards,
)

_BODY = " ".join(
    f"paragraph{i} of perfectly ordinary prose that flows naturally onward"
    for i in range(14)
)


def _rec(uri: str, rid: str, html: str) -> str:
    http = "HTTP/1.1 200 OK\r\nContent-Type: text/html; charset=UTF-8\r\n\r\n"
    body = http + html
    return (
        "WARC/1.0\r\n"
        "WARC-Type: response\r\n"
        f"WARC-Target-URI: {uri}\r\n"
        "WARC-Date: 2024-03-01T12:30:00Z\r\n"
        f"WARC-Record-ID: <{rid}>\r\n"
        f"Content-Length: {len(body)}\r\n"
        "\r\n"
        f"{body}\r\n\r\n"
    )


def test_warc_to_training_shards(spark, tmp_path):
    html = lambda tail: f"<html><body><p>{_BODY} {tail}</p></body></html>"
    recs = [
        _rec("https://good.org/a", "urn:uuid:a", html("alpha original")),
        # near-duplicate of /a with a longer body -> should SURVIVE
        # under score_col=len while /a drops
        _rec("https://good.org/b", "urn:uuid:b",
             html("alpha original plus an extended trailing clause")),
        _rec("https://x.spam.example/c", "urn:uuid:c", html("spam page")),
        _rec("https://fine.net/d", "urn:uuid:d",
             "<html><body><p>too short</p></body></html>"),
        _rec("https://fine.net/e", "urn:uuid:e",
             f"<html><body><p>{' '.join(f'different{i} themed mountain gear review prose' for i in range(14))}</p></body></html>"),
    ]
    (tmp_path / "crawl.warc").write_bytes("".join(recs).encode())

    docs = warc_documents(spark, str(tmp_path / "crawl.warc"))
    bl = parse_blocklist_text(spark, "# bad hosts\nspam.example\n")
    curated = curate(
        docs, blocklist=bl, materialize=False,
        min_line_words=1, gopher_overrides={"min_words": 10},
    )
    scored = curated.withColumn("q", F.length("text").cast("double"))
    survivors = near_dedup(scored, k=16, bands=8, score_col="q")
    m = write_training_shards(
        survivors.drop("q"), str(tmp_path / "shards"), n_shards=2, seed=3
    )
    back = read_training_shards(spark, str(tmp_path / "shards"))

    kept = sorted(r["doc_id"] for r in back.select("doc_id").collect())
    # /c blocked by domain, /d shape-filtered, /a lost the near-dup
    # cluster to the longer /b
    assert kept == ["urn:uuid:b", "urn:uuid:e"]
    assert m["total_rows"] == 2 and m["n_shards"] == 2
    assert sum(s["rows"] for s in m["shards"]) == 2
