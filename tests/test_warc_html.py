"""Full-WARC response reader + HTML→text extraction: record/HTTP
splitting, status/content-type parsing, tag stripping vs a stdlib
HTMLParser reference, entity decoding, gzip transparency, plan pins,
downstream composability, stream ≡ batch."""

from __future__ import annotations

import gzip
from html.parser import HTMLParser

from pyspark.sql import functions as F

_HTML_A = (
    "<!DOCTYPE html><html><head>\n"
    "<title>Example &amp; Friends</title>\n"
    "<style>body { color: red; }</style>\n"
    "<script>var x = '<p>not text</p>';</script>\n"
    "</head><body>\n"
    "<!-- a comment with <b>markup</b> inside -->\n"
    "<h1>Heading One</h1>\n"
    "<p>First paragraph with <b>bold</b> &quot;quoted&quot; text.</p>\n"
    "<ul><li>alpha</li><li>beta &lt;tag&gt;</li></ul>\n"
    "<div>closing   spaces&nbsp;here</div>\n"
    "</body></html>"
)

_HTML_B = "<html><body><p>tiny page</p></body></html>"


def _warc_record(rtype: str, uri: str, rid: str, http: str, body: str) -> str:
    return (
        "WARC/1.0\r\n"
        f"WARC-Type: {rtype}\r\n"
        f"WARC-Target-URI: {uri}\r\n"
        "WARC-Date: 2024-03-01T12:30:00Z\r\n"
        f"WARC-Record-ID: <{rid}>\r\n"
        f"Content-Length: {len(http) + len(body)}\r\n"
        "\r\n"
        f"{http}"
        f"{body}\r\n\r\n"
    )


def _warc_bytes() -> bytes:
    recs = [
        (
            "WARC/1.0\r\n"
            "WARC-Type: warcinfo\r\n"
            "WARC-Date: 2024-03-01T00:00:00Z\r\n"
            "Content-Length: 10\r\n"
            "\r\n"
            "software: test\r\n\r\n"
        ),
        # the request record paired with a response — must be dropped
        _warc_record(
            "request",
            "https://example.com/a",
            "urn:uuid:req-1",
            "GET /a HTTP/1.1\r\nHost: example.com\r\n\r\n",
            "",
        ),
        _warc_record(
            "response",
            "https://example.com/a",
            "urn:uuid:resp-a",
            "HTTP/1.1 200 OK\r\n"
            "Content-Type: text/html; charset=UTF-8\r\n"
            "Server: test\r\n"
            "\r\n",
            _HTML_A,
        ),
        _warc_record(
            "response",
            "https://example.org/missing",
            "urn:uuid:resp-404",
            "HTTP/1.1 404 Not Found\r\nContent-Type: text/html\r\n\r\n",
            "<html><body>not found</body></html>",
        ),
        _warc_record(
            "response",
            "https://example.net/data.json",
            "urn:uuid:resp-json",
            'HTTP/1.1 200 OK\r\nContent-Type: application/json\r\n\r\n',
            '{"k": 1}',
        ),
        _warc_record(
            "response",
            "https://example.com/b",
            "urn:uuid:resp-b",
            "HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n",
            _HTML_B,
        ),
        # truncated FINAL record: status line only, no blank line, no
        # record terminator (a cut-off file) — the payload must come
        # out empty, NOT as a copy of the HTTP headers
        (
            "WARC/1.0\r\n"
            "WARC-Type: response\r\n"
            "WARC-Target-URI: https://example.net/empty\r\n"
            "WARC-Date: 2024-03-01T12:33:00Z\r\n"
            "WARC-Record-ID: <urn:uuid:resp-empty>\r\n"
            "Content-Length: 17\r\n"
            "\r\n"
            "HTTP/1.1 204 No Content"
        ),
    ]
    return "".join(recs).encode()


class _RefExtractor(HTMLParser):
    """Stdlib reference: collect text outside script/style, the
    differential oracle for the regex extractor's WORD content."""

    def __init__(self):
        super().__init__(convert_charrefs=True)
        self.skip = 0
        self.parts = []

    def handle_starttag(self, tag, attrs):
        if tag in ("script", "style", "noscript", "template"):
            self.skip += 1

    def handle_endtag(self, tag):
        if tag in ("script", "style", "noscript", "template"):
            self.skip = max(0, self.skip - 1)

    def handle_data(self, data):
        if not self.skip:
            self.parts.append(data)


def _ref_words(html: str) -> list[str]:
    p = _RefExtractor()
    p.feed(html)
    return " ".join(p.parts).replace("\xa0", " ").split()


def test_read_warc_plain_and_gzip(spark, tmp_path):
    from trainingdata_spark.textops.corpus_io import read_warc

    raw = _warc_bytes()
    (tmp_path / "a.warc").write_bytes(raw)
    with gzip.open(tmp_path / "b.warc.gz", "wb") as f:
        f.write(raw)

    for fname in ("a.warc", "b.warc.gz"):
        rows = {
            r["doc_id"]: r
            for r in read_warc(spark, str(tmp_path / fname)).collect()
        }
        # responses only: warcinfo and the request record are gone
        assert set(rows) == {
            "urn:uuid:resp-a",
            "urn:uuid:resp-404",
            "urn:uuid:resp-json",
            "urn:uuid:resp-empty",
            "urn:uuid:resp-b",
        }
        a = rows["urn:uuid:resp-a"]
        assert a["url"] == "https://example.com/a"
        assert a["http_status"] == 200
        assert a["content_type"] == "text/html"
        assert a["charset"] == "utf-8"
        assert a["html"].startswith("<!DOCTYPE html>")
        assert str(a["fetch_time"]).startswith("2024-03-01 12:30")
        assert rows["urn:uuid:resp-404"]["http_status"] == 404
        assert rows["urn:uuid:resp-json"]["content_type"] == "application/json"
        assert rows["urn:uuid:resp-json"]["charset"] is None
        empty = rows["urn:uuid:resp-empty"]
        assert empty["http_status"] == 204
        assert empty["html"] == ""  # headers-only: payload is NOT the headers


def test_warc_documents_extracts_html_text(spark, tmp_path):
    from trainingdata_spark.textops.corpus_io import warc_documents

    (tmp_path / "a.warc").write_bytes(_warc_bytes())
    rows = {
        r["doc_id"]: r
        for r in warc_documents(spark, str(tmp_path / "a.warc")).collect()
    }
    # only the 200 text/html responses survive
    assert set(rows) == {"urn:uuid:resp-a", "urn:uuid:resp-b"}
    a = rows["urn:uuid:resp-a"]
    assert a["title"] == "Example & Friends"
    text = a["text"]
    # script/style/comment content is gone; entities decoded;
    # block structure became line breaks
    assert "color: red" not in text and "not text" not in text
    assert "markup" not in text  # comment content dropped
    assert 'with bold "quoted" text.' in text
    assert "beta <tag>" in text  # entity-encoded angle brackets are CONTENT
    assert "closing spaces here" in text  # &nbsp; + run collapse
    lines = text.split("\n")
    assert "Heading One" in lines and "alpha" in lines and "beta <tag>" in lines
    assert a["length"] == len(text)
    assert rows["urn:uuid:resp-b"]["text"] == "tiny page"
    assert rows["urn:uuid:resp-b"]["title"] is None


def test_html_to_text_words_match_stdlib_parser(spark):
    from trainingdata_spark.textops.corpus_io import html_to_text

    docs = [
        _HTML_A,
        _HTML_B,
        "<p>a &amp; b</p><p>c</p>",
        "<table><tr><td>x1</td><td>x2</td></tr></table>tail",
        "no markup at all",
        "<div>unclosed <b>bold",
    ]
    df = spark.createDataFrame([(d,) for d in docs], ["html"])
    got = [
        r["t"]
        for r in df.select(html_to_text("html").alias("t"))
        .collect()
    ]
    for html, text in zip(docs, got):
        assert text.split() == _ref_words(html), html


def test_warc_pipeline_is_python_free_projection(spark, tmp_path):
    """Parse + extraction must stay a pure JVM scan-projection: no
    Python eval, no Exchange — the 100 TB contract for a source."""
    from trainingdata_spark.textops.corpus_io import warc_documents

    (tmp_path / "a.warc").write_bytes(_warc_bytes())
    plan = (
        warc_documents(spark, str(tmp_path / "a.warc"))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "Exchange" not in plan


def test_warc_feeds_downstream_and_stream_matches_batch(spark, tmp_path):
    from trainingdata_spark.textops.corpus_io import (
        read_warc,
        read_warc_stream,
    )
    from trainingdata_spark.textops.analysis import with_tokens

    (tmp_path / "a.warc").write_bytes(_warc_bytes())
    batch = read_warc(spark, str(tmp_path / "a.warc"))
    toks = with_tokens(
        batch.filter(F.col("content_type") == "text/html")
        .withColumn("text", F.col("html")),
    )
    assert toks.count() == 3  # composes with the analysis ops

    stream = read_warc_stream(spark, str(tmp_path), max_files_per_trigger=1)
    assert stream.isStreaming
    q = (
        stream.writeStream.format("memory")
        .queryName("warc_stream_test")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        r["doc_id"]
        for r in spark.sql("select doc_id from warc_stream_test").collect()
    }
    want = {r["doc_id"] for r in batch.collect()}
    assert got == want


def _encoded_warc_bytes() -> bytes:
    """Records the TEXT reader can't represent: a gzip
    Content-Encoding body and a latin-1 charset body."""
    html_gz = gzip.compress(_HTML_A.encode())
    latin = "<html><body><p>café résumé</p></body></html>".encode("latin-1")
    parts = []
    parts.append(
        "WARC/1.0\r\n"
        "WARC-Type: response\r\n"
        "WARC-Target-URI: https://example.com/gz\r\n"
        "WARC-Date: 2024-03-01T12:40:00Z\r\n"
        "WARC-Record-ID: <urn:uuid:resp-gz>\r\n"
        "\r\n"
        "HTTP/1.1 200 OK\r\n"
        "Content-Type: text/html; charset=utf-8\r\n"
        "Content-Encoding: gzip\r\n"
        "\r\n".encode().decode()
    )
    blob = parts[0].encode() + html_gz + b"\r\n\r\n"
    blob += (
        "WARC/1.0\r\n"
        "WARC-Type: response\r\n"
        "WARC-Target-URI: https://example.fr/latin\r\n"
        "WARC-Date: 2024-03-01T12:41:00Z\r\n"
        "WARC-Record-ID: <urn:uuid:resp-latin>\r\n"
        "\r\n"
        "HTTP/1.1 200 OK\r\n"
        "Content-Type: text/html; charset=ISO-8859-1\r\n"
        "\r\n"
    ).encode() + latin + b"\r\n\r\n"
    # an undecodable record: gzip-declared but garbage bytes
    blob += (
        "WARC/1.0\r\n"
        "WARC-Type: response\r\n"
        "WARC-Target-URI: https://example.com/broken\r\n"
        "WARC-Date: 2024-03-01T12:42:00Z\r\n"
        "WARC-Record-ID: <urn:uuid:resp-broken>\r\n"
        "\r\n"
        "HTTP/1.1 200 OK\r\n"
        "Content-Type: text/html\r\n"
        "Content-Encoding: gzip\r\n"
        "\r\n"
    ).encode() + b"\x00\x01notgzip" + b"\r\n\r\n"
    return blob


def test_read_warc_binary_decodes_encoded_payloads(spark, tmp_path):
    from trainingdata_spark.textops.corpus_io import (
        extract_documents,
        read_warc_binary,
    )

    (tmp_path / "enc.warc").write_bytes(_encoded_warc_bytes())
    rows = {
        r["doc_id"]: r
        for r in read_warc_binary(spark, str(tmp_path / "enc.warc")).collect()
    }
    assert set(rows) == {"urn:uuid:resp-gz", "urn:uuid:resp-latin", "urn:uuid:resp-broken"}
    gz = rows["urn:uuid:resp-gz"]
    assert gz["http_status"] == 200 and gz["charset"] == "utf-8"
    assert gz["html"] == _HTML_A  # gzip Content-Encoding transparently undone
    latin = rows["urn:uuid:resp-latin"]
    assert latin["charset"] == "iso-8859-1"
    assert "café résumé" in latin["html"]  # decoded per header charset
    assert rows["urn:uuid:resp-broken"]["html"] is None  # NULL, not a dead scan
    # and the shared extraction composes over the kernel's output
    docs = {
        r["doc_id"]: r["text"]
        for r in extract_documents(
            read_warc_binary(spark, str(tmp_path / "enc.warc"))
        ).collect()
    }
    assert "café résumé" in docs["urn:uuid:resp-latin"]
    assert "Heading One" in docs["urn:uuid:resp-gz"]


def test_binary_and_text_readers_agree_on_identity_payloads(spark, tmp_path):
    from trainingdata_spark.textops.corpus_io import (
        read_warc,
        read_warc_binary,
    )

    raw = _warc_bytes()
    (tmp_path / "a.warc").write_bytes(raw)
    with gzip.open(tmp_path / "a2.warc.gz", "wb") as f:
        f.write(raw)  # whole-file gzip: the kernel sniffs the magic
    cols = ["doc_id", "url", "fetch_time", "http_status", "content_type", "content_encoding", "html"]
    want = {
        r["doc_id"]: tuple(r[c] for c in cols)
        for r in read_warc(spark, str(tmp_path / "a.warc")).collect()
    }
    for fname in ("a.warc", "a2.warc.gz"):
        got = {
            r["doc_id"]: tuple(r[c] for c in cols)
            for r in read_warc_binary(spark, str(tmp_path / fname)).collect()
        }
        assert got == want


def test_review_fixes_round8(spark, tmp_path):
    """The seven post-review hardenings, one fixture each."""
    import zlib

    from trainingdata_spark.textops.corpus_io import (
        extract_documents,
        html_to_text,
        read_warc,
        read_warc_binary,
    )

    # deflate body whose compressed bytes end in 0x0a — blind rstrip
    # of the record terminator used to eat the last byte and corrupt
    # the stream (Content-Length framing keeps it intact)
    deflate_doc = None
    for i in range(600):  # padding sweeps the Adler-32 low byte
        cand = "<html><body><p>deflate " + "x" * i + "</p></body></html>"
        if zlib.compress(cand.encode()).endswith((b"\n", b"\r")):
            deflate_doc = cand
            break
    assert deflate_doc is not None
    deflated = zlib.compress(deflate_doc.encode())

    def rec(rid, uri, http_headers, body: bytes, rtype="response"):
        http = http_headers.encode() + b"\r\n\r\n"
        block = http + body
        return (
            (
                "WARC/1.0\r\n"
                f"WARC-Type: {rtype}\r\n"
                f"WARC-Target-URI: {uri}\r\n"
                "WARC-Date: 2024-03-01T12:30:00Z\r\n"
                + (f"WARC-Record-ID: <{rid}>\r\n" if rid else "")
                + f"Content-Length: {len(block)}\r\n\r\n"
            ).encode()
            + block
            + b"\r\n\r\n"
        )

    same_body = "<p>identical id-less content</p>"
    blob = b"".join([
        rec("r-h2", "https://ex.com/h2",
            "HTTP/2 200\r\nContent-Type: text/html", b"<p>http two</p>"),
        rec("r-gzip-enc", "https://ex.com/enc",
            "HTTP/1.1 200 OK\r\nContent-Type: text/html\r\nContent-Encoding: gzip",
            gzip.compress(b"<p>was gzipped</p>")),
        rec("r-br", "https://ex.com/br",
            "HTTP/1.1 200 OK\r\nContent-Type: text/html\r\nContent-Encoding: br",
            b"\x00\x01brotli-bytes"),
        rec("r-deflate", "https://ex.com/deflate",
            "HTTP/1.1 200 OK\r\nContent-Type: text/html\r\nContent-Encoding: deflate",
            deflated),
        rec(None, "https://ex.com/noid-mid",
            "HTTP/1.1 200 OK\r\nContent-Type: text/html", same_body.encode()),
        rec(None, "https://ex.com/noid-eof",
            "HTTP/1.1 200 OK\r\nContent-Type: text/html", same_body.encode()),
    ])
    (tmp_path / "f.warc").write_bytes(blob)

    t_rows = {r["url"]: r for r in read_warc(spark, str(tmp_path / "f.warc")).collect()}
    b_rows = {r["url"]: r for r in read_warc_binary(spark, str(tmp_path / "f.warc")).collect()}

    # 1. HTTP/2 status lines parse in both readers
    assert t_rows["https://ex.com/h2"]["http_status"] == 200
    assert b_rows["https://ex.com/h2"]["http_status"] == 200

    # 2. text reader surfaces content_encoding; extract_documents
    # excludes still-compressed rows instead of ingesting mojibake
    assert t_rows["https://ex.com/enc"]["content_encoding"] == "gzip"
    t_docs = {r["url"] for r in extract_documents(
        read_warc(spark, str(tmp_path / "f.warc"))).collect()}
    assert "https://ex.com/enc" not in t_docs
    assert "https://ex.com/h2" in t_docs

    # 3. unknown encodings (br) yield NULL html in the kernel, with
    # the encoding kept for audit; decoded rows report NULL encoding
    assert b_rows["https://ex.com/br"]["html"] is None
    assert b_rows["https://ex.com/br"]["content_encoding"] == "br"
    assert b_rows["https://ex.com/enc"]["html"] == "<p>was gzipped</p>"
    assert b_rows["https://ex.com/enc"]["content_encoding"] is None

    # 4. Content-Length framing: the 0x0a-terminated deflate body
    # survives intact
    assert b_rows["https://ex.com/deflate"]["html"] == deflate_doc

    # 5. md5 fallback is position-independent and agrees across readers
    mid_t = t_rows["https://ex.com/noid-mid"]["doc_id"]
    eof_t = t_rows["https://ex.com/noid-eof"]["doc_id"]
    assert mid_t == eof_t == b_rows["https://ex.com/noid-mid"]["doc_id"]

    # 6. a "<!--" inside script code must not swallow body text
    tricky = "<script>var s='<!--';</script><p>real content</p><!-- footer -->"
    got = spark.createDataFrame([(tricky,)], ["h"]).select(
        html_to_text("h").alias("t")).first()["t"]
    assert got == "real content"

    # 7. tz-aware kernel timestamps: same instant from both readers
    # even when the session timezone is not UTC
    old_tz = spark.conf.get("spark.sql.session.timeZone")
    try:
        spark.conf.set("spark.sql.session.timeZone", "America/New_York")
        t2 = {r["url"]: r["fetch_time"] for r in read_warc(
            spark, str(tmp_path / "f.warc")).collect()}
        b2 = {r["url"]: r["fetch_time"] for r in read_warc_binary(
            spark, str(tmp_path / "f.warc")).collect()}
        assert t2 == b2
    finally:
        spark.conf.set("spark.sql.session.timeZone", old_tz)


def test_second_review_fixes_round8(spark, tmp_path):
    """nbsp-edge id agreement, identity/none canonicalization,
    commented-out unpaired script tag."""
    from trainingdata_spark.textops.corpus_io import (
        extract_documents,
        html_to_text,
        read_warc,
        read_warc_binary,
    )

    nbsp_body = " <p>nbsp edges</p> ".encode()
    blob = b"".join([
        # id-less record whose payload has U+00A0 edges: both readers
        # must strip ASCII whitespace ONLY and produce the same id
        (
            "WARC/1.0\r\nWARC-Type: response\r\n"
            "WARC-Target-URI: https://ex.com/nbsp\r\n"
            "WARC-Date: 2024-03-01T12:30:00Z\r\n"
            f"Content-Length: {47 + len(nbsp_body)}\r\n\r\n"
        ).encode()
        + b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n"
        + nbsp_body
        + b"\r\n\r\n",
        (
            "WARC/1.0\r\nWARC-Type: response\r\n"
            "WARC-Target-URI: https://ex.com/none-enc\r\n"
            "WARC-Date: 2024-03-01T12:31:00Z\r\n"
            "WARC-Record-ID: <n1>\r\n\r\n"
            "HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n"
            "Content-Encoding: none\r\n\r\n"
            "<p>plain despite the header</p>\r\n\r\n"
        ).encode(),
        (
            "WARC/1.0\r\nWARC-Type: response\r\n"
            "WARC-Target-URI: https://ex.com/identity-enc\r\n"
            "WARC-Date: 2024-03-01T12:32:00Z\r\n"
            "WARC-Record-ID: <n2>\r\n\r\n"
            "HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n"
            "Content-Encoding: identity\r\n\r\n"
            "<p>identity page</p>\r\n\r\n"
        ).encode(),
    ])
    (tmp_path / "g.warc").write_bytes(blob)

    t = {r["url"]: r for r in read_warc(spark, str(tmp_path / "g.warc")).collect()}
    b = {r["url"]: r for r in read_warc_binary(spark, str(tmp_path / "g.warc")).collect()}

    # nbsp edges survive identically (ASCII-only strip both sides) and
    # the md5 fallback ids agree
    assert t["https://ex.com/nbsp"]["html"] == b["https://ex.com/nbsp"]["html"]
    assert t["https://ex.com/nbsp"]["html"].startswith(" ")
    assert t["https://ex.com/nbsp"]["doc_id"] == b["https://ex.com/nbsp"]["doc_id"]

    # identity-equivalent encodings canonicalize to NULL in BOTH
    # readers, and the documents are kept by extract_documents
    for url in ("https://ex.com/none-enc", "https://ex.com/identity-enc"):
        assert t[url]["content_encoding"] is None
        assert b[url]["content_encoding"] is None
    t_docs = {r["url"] for r in extract_documents(
        read_warc(spark, str(tmp_path / "g.warc"))).collect()}
    assert {"https://ex.com/none-enc", "https://ex.com/identity-enc"} <= t_docs

    # a commented-out UNPAIRED <script> opening must not swallow body
    # text up to the next real </script> (the mirror of the case the
    # first review found)
    tricky = '<!-- <script src="old.js"> -->Hello world<script>x()</script>'
    got = spark.createDataFrame([(tricky,)], ["h"]).select(
        html_to_text("h").alias("t")).first()["t"]
    assert got == "Hello world"
    # and the original direction still holds after the three-pass form
    tricky2 = "<script>var s='<!--';</script><p>real content</p><!-- footer -->"
    got2 = spark.createDataFrame([(tricky2,)], ["h"]).select(
        html_to_text("h").alias("t")).first()["t"]
    assert got2 == "real content"
    # comment WRAPPING a complete script pair: remnants cleaned, text kept
    tricky3 = "<!-- <script>x()</script> -->kept text"
    got3 = spark.createDataFrame([(tricky3,)], ["h"]).select(
        html_to_text("h").alias("t")).first()["t"]
    assert got3 == "kept text"


def test_extract_links_and_host_graph_pagerank(spark):
    """The authority pipeline end to end: href extraction from markup
    -> host-level edges -> pagerank ranks the hub highest."""
    from trainingdata_spark.operators.pagerank import pagerank
    from trainingdata_spark.textops.corpus_io import (
        extract_links,
        host_edges,
    )
    import pyspark.sql.functions as F

    html = (
        '<p>intro</p><a href="https://hub.example/x">q</a> '
        "<a href='https://Other.Example/y?a=1&amp;b=2'>s</a> "
        '<a href=https://bare.example/z>b</a> '
        '<a href="#frag">skip</a> <a href="javascript:void(0)">skip</a> '
        '<a href="mailto:x@y.z">skip</a> <a href="/relative/path">rel</a> '
        '<a href="//cdn.example/asset.js">protocol-relative</a>'
    )
    df = spark.createDataFrame(
        [(1, "https://src.example/page", html)], "doc_id long, url string, html string"
    )
    (links,) = df.select(extract_links("html").alias("l")).collect()
    assert links["l"] == [
        "https://hub.example/x",
        "https://Other.Example/y?a=1&b=2",
        "https://bare.example/z",
        "/relative/path",
        "//cdn.example/asset.js",
    ]

    edges = host_edges(df.withColumn("links", extract_links("html")))
    got = sorted((r["src"], r["dst"]) for r in edges.collect())
    # the relative link has no host of its own -> resolves NULL, drops
    assert got == [
        ("src.example", "bare.example"),
        ("src.example", "cdn.example"),
        ("src.example", "hub.example"),
        ("src.example", "other.example"),
    ]

    # many pages pointing at one hub: pagerank ranks the hub on top
    pages = [
        (i, f"https://site{i}.example/p",
         '<a href="https://hub.example/x">hub</a>'
         + (f'<a href="https://site{(i + 1) % 5}.example/">peer</a>' if i % 2 else ""))
        for i in range(5)
    ]
    big = spark.createDataFrame(pages, "doc_id long, url string, html string")
    e = host_edges(big.withColumn("links", extract_links("html")))
    ranks = {r["node"]: r["rank"] for r in pagerank(e, iterations=15).collect()}
    assert max(ranks, key=ranks.get) == "hub.example"
