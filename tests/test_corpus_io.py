"""WET reader: record splitting, header extraction, warcinfo drop,
gzip transparency, downstream-op composability."""

from __future__ import annotations

import gzip


def _wet_bytes() -> bytes:
    recs = [
        (
            "WARC/1.0\r\n"
            "WARC-Type: warcinfo\r\n"
            "WARC-Date: 2024-03-01T00:00:00Z\r\n"
            "Content-Length: 10\r\n"
            "\r\n"
            "software: test\r\n\r\n"
        ),
        (
            "WARC/1.0\r\n"
            "WARC-Type: conversion\r\n"
            "WARC-Target-URI: https://example.com/a\r\n"
            "WARC-Date: 2024-03-01T12:30:00Z\r\n"
            "WARC-Record-ID: <urn:uuid:aaaa-1111>\r\n"
            "Content-Length: 26\r\n"
            "\r\n"
            "first document body text\r\n\r\n"
        ),
        (
            "WARC/1.0\r\n"
            "WARC-Type: conversion\r\n"
            "WARC-Target-URI: https://example.org/b\r\n"
            "WARC-Date: 2024-03-01T12:31:00Z\r\n"
            "Content-Length: 30\r\n"  # no Record-ID → content-hash doc_id
            "\r\n"
            "second doc\nwith two lines\r\n\r\n"
        ),
        (
            "WARC/1.0\r\n"
            "WARC-Type: conversion\r\n"
            "WARC-Target-URI: https://example.net/empty\r\n"
            "WARC-Date: 2024-03-01T12:32:00Z\r\n"
            "Content-Length: 0\r\n"
            "\r\n"
            "\r\n\r\n"
        ),
    ]
    # the reader splits on the version marker itself; records as
    # written above already carry it as their first line
    return "".join(recs).encode()


def test_read_wet_plain_and_gzip(spark, tmp_path):
    from trainingdata_spark.textops.corpus_io import read_wet

    raw = _wet_bytes()
    (tmp_path / "a.wet").write_bytes(raw)
    with gzip.open(tmp_path / "b.wet.gz", "wb") as f:
        f.write(raw)

    for fname in ("a.wet", "b.wet.gz"):
        out = read_wet(spark, str(tmp_path / fname)).orderBy("url")
        rows = out.collect()
        assert [r["url"] for r in rows] == [
            "https://example.com/a",
            "https://example.org/b",
        ]  # warcinfo and the empty record are gone
        a, b = rows
        assert a["doc_id"] == "urn:uuid:aaaa-1111"
        assert a["text"] == "first document body text"
        assert a["length"] == 26
        assert str(a["fetch_time"]).startswith("2024-03-01 12:30")
        assert b["text"] == "second doc\nwith two lines"
        assert len(b["doc_id"]) == 32  # md5 fallback without a record id


def test_read_wet_feeds_downstream_ops(spark, tmp_path):
    from trainingdata_spark.textops.analysis import with_tokens
    from trainingdata_spark.textops.corpus_io import read_wet

    (tmp_path / "c.wet").write_bytes(_wet_bytes())
    docs = read_wet(spark, str(tmp_path / "c.wet"))
    toks = with_tokens(docs)
    got = {r["url"]: r["n_tokens"] for r in toks.collect()}
    assert got["https://example.com/a"] == 4


def test_malformed_headers_yield_nulls_not_errors(spark, tmp_path):
    """A conversion record missing Content-Length/WARC-Date must not
    kill the scan under ANSI mode — fields go NULL, text survives."""
    from trainingdata_spark.textops.corpus_io import read_wet

    rec = (
        "WARC/1.0\r\n"
        "WARC-Type: conversion\r\n"
        "WARC-Target-URI: https://example.com/m\r\n"
        "\r\n"
        "malformed but readable body\r\n\r\n"
    )
    (tmp_path / "m.wet").write_bytes(rec.encode())
    rows = read_wet(spark, str(tmp_path / "m.wet")).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r["text"] == "malformed but readable body"
    assert r["fetch_time"] is None and r["length"] is None
    assert len(r["doc_id"]) == 32  # md5 fallback


def test_missing_uri_header_is_null_not_empty(spark, tmp_path):
    """An absent WARC-Target-URI must surface as NULL, not '' — ''
    is a joinable/groupable value and made dedup_by_url collapse all
    URI-less records into one survivor (round-6 finding)."""
    from trainingdata_spark.textops.corpus_io import read_wet

    rec = (
        "WARC/1.0\r\n"
        "WARC-Type: conversion\r\n"
        "WARC-Date: 2024-03-01T12:30:00Z\r\n"
        "\r\n"
        "no uri here\r\n\r\n"
    )
    (tmp_path / "n.wet").write_bytes(rec.encode())
    rows = read_wet(spark, str(tmp_path / "n.wet")).collect()
    assert len(rows) == 1 and rows[0]["url"] is None


def test_url_less_records_survive_dedup_by_url(spark, tmp_path):
    """Verdict r6 #1 done-criterion: two URL-less WET records BOTH
    survive read_wet |> dedup_by_url (no-URL is missing information,
    not a shared identity)."""
    from trainingdata_spark.textops.corpus_io import (
        dedup_by_url,
        read_wet,
    )

    recs = "".join(
        (
            "WARC/1.0\r\n"
            "WARC-Type: conversion\r\n"
            f"WARC-Date: 2024-03-01T12:3{i}:00Z\r\n"
            "\r\n"
            f"url-less document {i}\r\n\r\n"
        )
        for i in (0, 1)
    )
    (tmp_path / "u.wet").write_bytes(recs.encode())
    docs = read_wet(spark, str(tmp_path / "u.wet"))
    out = dedup_by_url(docs).collect()
    assert sorted(r["text"] for r in out) == [
        "url-less document 0",
        "url-less document 1",
    ]


def test_dedup_by_url_null_and_empty_pass_through(spark):
    """NULL and '' urls never collapse with each other (or among
    themselves); real duplicate URLs still do."""
    from datetime import datetime

    from trainingdata_spark.textops.corpus_io import dedup_by_url

    rows = [
        (1, None, datetime(2024, 1, 1), "null-a"),
        (2, None, datetime(2024, 1, 2), "null-b"),
        (3, "", datetime(2024, 1, 3), "empty-a"),
        (4, "", datetime(2024, 1, 4), "empty-b"),
        (5, "https://example.com/a", datetime(2024, 1, 5), "old"),
        (6, "https://example.com/a/", datetime(2024, 1, 6), "new"),
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, url string, fetch_time timestamp, text string"
    )
    texts = sorted(r["text"] for r in dedup_by_url(df).collect())
    assert texts == ["empty-a", "empty-b", "new", "null-a", "null-b"]


def test_body_containing_version_marker_round_trips(spark, tmp_path):
    """A document whose extracted text mentions 'WARC/1.0' on its own
    line (pages about web archiving) must NOT tear the record: the
    separator is CRLF-anchored and extracted WET text uses \\n."""
    from trainingdata_spark.textops.corpus_io import read_wet

    body = "about web archiving:\nWARC/1.0\nis the version line"
    rec = (
        "WARC/1.0\r\n"
        "WARC-Type: conversion\r\n"
        "WARC-Target-URI: https://example.com/warc\r\n"
        "WARC-Date: 2024-03-01T12:30:00Z\r\n"
        "\r\n"
        f"{body}\r\n\r\n"
        "WARC/1.0\r\n"
        "WARC-Type: conversion\r\n"
        "WARC-Target-URI: https://example.com/next\r\n"
        "WARC-Date: 2024-03-01T12:31:00Z\r\n"
        "\r\n"
        "next record intact\r\n\r\n"
    )
    (tmp_path / "w.wet").write_bytes(rec.encode())
    rows = {r["url"]: r["text"] for r in read_wet(spark, str(tmp_path / "w.wet")).collect()}
    assert rows == {
        "https://example.com/warc": body,
        "https://example.com/next": "next record intact",
    }


def test_psl_domain_mode(spark):
    """domain_mode='psl': registrable domain = one label + longest
    PSL suffix; unlisted TLDs fall back to the two-label rule; a host
    that IS a suffix has no registrable domain (NULL)."""
    from trainingdata_spark.textops.corpus_io import (
        psl_table,
        with_url_parts,
    )

    rows = [
        (1, "https://sub.example.co.uk/a"),
        (2, "https://news.example.com.au/b"),
        (3, "https://deep.sub.example.com/c"),
        (4, "https://co.uk/"),
        (5, "https://example.weirdtld/x"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, url string")
    got = {r["doc_id"]: r["domain"] for r in with_url_parts(df, domain_mode="psl").collect()}
    assert got[1] == "example.co.uk"
    assert got[2] == "example.com.au"
    assert got[3] == "example.com"  # unlisted suffix → two-label rule
    assert got[4] is None  # host IS the suffix: no registrable domain
    assert got[5] == "example.weirdtld"

    # a 3-label suffix via a user-supplied PSL table (longest wins
    # over the also-present 2-label edu.au rule)
    psl = psl_table(spark).unionByName(
        spark.createDataFrame(
            [("act.edu.au", 3, "rule")], "suffix string, labels int, kind string"
        )
    )
    df2 = spark.createDataFrame(
        [(1, "https://www.school.act.edu.au/x")], "doc_id long, url string"
    )
    (row,) = with_url_parts(df2, domain_mode="psl", psl=psl).collect()
    assert row["domain"] == "school.act.edu.au"


def test_psl_wildcard_and_exception_rules(spark):
    """Verdict r7 #5: full publicsuffix.org rule semantics — wildcard
    rules (*.ck: every 2-label suffix under .ck is public) and their
    exceptions (!www.ck: registrable despite the wildcard) — so the
    full-Mozilla-list swap-in works on the real list."""
    from trainingdata_spark.textops.corpus_io import (
        parse_psl_text,
        with_url_parts,
    )

    rows = [
        (1, "https://www.foo.bar.ck/a"),  # *.ck → suffix bar.ck → foo.bar.ck
        (2, "https://foo.bar.ck/a"),      # same suffix, host = domain
        (3, "https://bar.ck/"),           # host IS a wildcard suffix → NULL
        (4, "https://www.ck/x"),          # exception: www.ck registrable
        (5, "https://foo.www.ck/x"),      # under the exception → www.ck
        (6, "https://sub.example.co.uk/a"),  # plain rules still work
        (7, "https://example.weirdtld/x"),   # unlisted → two-label rule
    ]
    df = spark.createDataFrame(rows, "doc_id long, url string")
    got = {r["doc_id"]: r["domain"] for r in with_url_parts(df, domain_mode="psl").collect()}
    assert got[1] == "foo.bar.ck"
    assert got[2] == "foo.bar.ck"
    assert got[3] is None
    assert got[4] == "www.ck"
    assert got[5] == "www.ck"
    assert got[6] == "example.co.uk"
    assert got[7] == "example.weirdtld"

    # the raw-file parser: comments/blank lines skipped, markers
    # classified, whitespace-suffixed junk ignored — and the parsed
    # table drives the same join plan
    raw = """
// ===BEGIN ICANN DOMAINS===
com
co.uk

*.ck
!www.ck
*.nested.example  // trailing comment text
"""
    psl = parse_psl_text(spark, raw)
    kinds = {(r["suffix"], r["labels"], r["kind"]) for r in psl.collect()}
    assert ("com", 1, "rule") in kinds
    assert ("co.uk", 2, "rule") in kinds
    assert ("ck", 1, "wildcard") in kinds
    assert ("www.ck", 2, "exception") in kinds
    assert ("nested.example", 2, "wildcard") in kinds
    got2 = {
        r["doc_id"]: r["domain"]
        for r in with_url_parts(df, domain_mode="psl", psl=psl).collect()
    }
    assert got2[1] == "foo.bar.ck" and got2[4] == "www.ck"
    # 3-label suffix via the parsed wildcard (*.nested.example)
    df3 = spark.createDataFrame(
        [(1, "https://a.b.deep.nested.example/x")], "doc_id long, url string"
    )
    (row3,) = with_url_parts(df3, domain_mode="psl", psl=psl).collect()
    assert row3["domain"] == "b.deep.nested.example"


def test_bundled_psl_covers_jp_geographic_and_wildcard_tlds(spark):
    """Round-9 verdict ask #6: the BUNDLED snapshot (psl=None) must
    get the canonical hard cases right out of the box — co.uk, the
    *.ck wildcard with its !www.ck exception, and the
    *.kawasaki.jp geographic wildcard with the !city.kawasaki.jp
    municipal exception — plus the JP prefecture second-levels."""
    from trainingdata_spark.textops.corpus_io import with_url_parts

    rows = [
        (1, "https://shop.example.co.uk/x"),
        (2, "https://www.foo.bar.ck/x"),           # *.ck
        (3, "https://portal.www.ck/x"),            # !www.ck
        (4, "https://a.b.kawasaki.jp/x"),          # *.kawasaki.jp
        (5, "https://sub.city.kawasaki.jp/x"),     # !city.kawasaki.jp
        (6, "https://city.kawasaki.jp/x"),         # the exception itself
        (7, "https://metro.tokyo.jp/x"),           # prefecture rule
        (8, "https://x.city.sendai.jp/x"),         # another city exception
        (9, "https://a.b.yokohama.jp/x"),          # another city wildcard
    ]
    df = spark.createDataFrame(rows, "doc_id long, url string")
    got = {
        r["doc_id"]: r["domain"]
        for r in with_url_parts(df, domain_mode="psl").collect()
    }
    assert got[1] == "example.co.uk"
    assert got[2] == "foo.bar.ck"
    assert got[3] == "www.ck"
    assert got[4] == "a.b.kawasaki.jp"
    assert got[5] == "city.kawasaki.jp"
    assert got[6] == "city.kawasaki.jp"
    assert got[7] == "metro.tokyo.jp"
    assert got[8] == "city.sendai.jp"
    assert got[9] == "a.b.yokohama.jp"


def test_bundled_psl_is_the_complete_mozilla_snapshot(spark):
    """Round-10 verdict ask #4: the packaged PSL is the VERBATIM dated
    Mozilla snapshot, so exotic plain-rule entries the old curated
    subset never carried resolve out of the box — including unicode
    IDN rules, 4-label US school-district rules, and wildcards the
    subset plain-ruled incorrectly (*.sch.uk)."""
    from trainingdata_spark.textops.corpus_io import (
        _PSL_SNAPSHOT_DATE,
        psl_table,
        with_url_parts,
    )

    assert _PSL_SNAPSHOT_DATE == "2023-02-09"
    dim = psl_table(spark)
    rules = {(r["suffix"], r["kind"]) for r in dim.collect()}
    # exotic ICANN plain rules, none of which the round-9 curated
    # subset had (incl. a unicode IDN rule and a 4-label US
    # school-district rule)
    for s in ("sch.qa", "lib.ee", "gouv.fr", "pvt.k12.ma.us",
              "aéroport.ci", "health.nz"):
        assert (s, "rule") in rules, s
    # the real list makes sch.uk a WILDCARD (the subset had it plain)
    assert ("sch.uk", "wildcard") in rules
    assert ("sch.uk", "rule") not in rules
    # ICANN-only by default: PRIVATE-section suffixes excluded...
    assert ("blogspot.com", "rule") not in rules
    assert ("gov.scot", "rule") not in rules  # gov.scot is PRIVATE
    # ...and opt-in via include_private
    priv = {
        (r["suffix"], r["kind"]) for r in psl_table(spark, include_private=True).collect()
    }
    for s in ("blogspot.com", "gov.scot", "edu.krd"):
        assert (s, "rule") in priv, s
    assert rules < priv

    rows = [
        (1, "https://stats.gov.scot/x"),            # ICANN: scot rule
        (2, "https://school.pvt.k12.ma.us/x"),      # 4-label rule
        (3, "https://myschool.sch.uk/x"),           # *.sch.uk: host IS suffix
        (4, "https://www.myschool.sch.uk/x"),       # → www.myschool.sch.uk
        (5, "https://blog.foo.blogspot.com/x"),     # ICANN: → blogspot.com
    ]
    df = spark.createDataFrame(rows, "doc_id long, url string")
    got = {
        r["doc_id"]: r["domain"]
        for r in with_url_parts(df, domain_mode="psl").collect()
    }
    assert got[1] == "gov.scot"  # ICANN suffix is just `scot`
    assert got[2] == "school.pvt.k12.ma.us"
    assert got[3] is None
    assert got[4] == "www.myschool.sch.uk"
    assert got[5] == "blogspot.com"
    # PRIVATE section changes the registrable unit for operator hosts
    # (blogspot.com and gov.scot both become suffixes there)
    got_p = {
        r["doc_id"]: r["domain"]
        for r in with_url_parts(
            df, domain_mode="psl", psl=psl_table(spark, include_private=True)
        ).collect()
    }
    assert got_p[5] == "foo.blogspot.com"
    assert got_p[1] == "stats.gov.scot"


def test_url_parts_and_canonicalization(spark):
    from trainingdata_spark.textops.corpus_io import with_url_parts

    rows = [
        (1, "HTTPS://Example.COM/Path/?utm_source=x&q=1&fbclid=z#frag"),
        (2, "https://sub.example.co.uk/a/b/"),
        (3, "not a url"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, url string")
    got = {r["doc_id"]: r for r in with_url_parts(df).collect()}
    assert got[1]["host"] == "example.com"
    assert got[1]["url_canonical"] == "https://example.com/Path?q=1"
    assert got[2]["domain"] == "co.uk"  # documented two-label heuristic
    assert got[2]["url_canonical"] == "https://sub.example.co.uk/a/b"
    assert got[3]["url_canonical"] == "not a url"  # unparseable passes through


def test_dedup_by_url_keeps_latest_fetch(spark):
    from datetime import datetime

    from trainingdata_spark.textops.corpus_io import dedup_by_url

    rows = [
        (1, "https://example.com/a?utm_source=x", datetime(2024, 1, 1), "old"),
        (2, "https://example.com/a/", datetime(2024, 2, 1), "new"),
        (3, "https://example.com/b", datetime(2024, 1, 5), "other"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, url string, fetch_time timestamp, text string")
    out = dedup_by_url(df).collect()
    texts = sorted(r["text"] for r in out)
    assert texts == ["new", "other"]  # 1 and 2 collapse; latest fetch wins
    assert sorted(df.columns) == sorted(out[0].asDict().keys())  # no helper cols leak


def test_read_wet_stream_equals_batch(spark, tmp_path):
    """The streaming reader shares the batch parse expressions — a
    file-replayed stream emits exactly the batch rows."""
    from trainingdata_spark.textops.corpus_io import (
        read_wet,
        read_wet_stream,
    )

    src = str(tmp_path / "in")
    import os

    os.makedirs(src)
    (tmp_path / "in" / "a.wet").write_bytes(_wet_bytes())

    batch = read_wet(spark, src)
    out_dir = str(tmp_path / "out")
    q = (
        read_wet_stream(spark, src, max_files_per_trigger=1)
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    streamed = spark.read.parquet(out_dir)
    b = sorted(tuple(r) for r in batch.collect())
    s = sorted(tuple(r) for r in streamed.collect())
    assert b == s and len(b) == 2


def test_blocklist_subdomain_and_longest_match(spark):
    """UT1-style domain blocklist: an entry blocks its own host and
    every subdomain; the longest listed entry labels the row; NULL or
    unparseable hosts never match; schema passes through unchanged."""
    from trainingdata_spark.textops.corpus_io import (
        blocklist_filter,
        with_blocked_domain,
    )

    bl = spark.createDataFrame(
        [("bad.com",), ("ads.bad.com",), ("tracker.net",), ("WWW.shouty.org",)],
        "domain string",
    )
    rows = [
        (1, "https://bad.com/x"),            # exact entry
        (2, "https://a.bad.com/x"),          # subdomain of bad.com
        (3, "https://x.ads.bad.com/x"),      # longest entry wins
        (4, "https://notbad.com/x"),         # suffix of the NAME, not a subdomain
        (5, "https://good.org/x"),           # clean
        (6, None),                           # NULL url → NULL host
        (7, "::not a url::"),                # unparseable → NULL host
        (8, "https://www.shouty.org/x"),     # entries compare lowercased
        (9, "https://deep.www.shouty.org/"), # subdomain of a www entry
        (10, "https://a.bad.com./x"),        # FQDN root dot must not evade
    ]
    df = spark.createDataFrame(rows, "doc_id long, url string")
    got = {r["doc_id"]: r["blocked_domain"] for r in with_blocked_domain(df, bl).collect()}
    assert got[1] == "bad.com"
    assert got[2] == "bad.com"
    assert got[3] == "ads.bad.com"
    assert got[4] is None
    assert got[5] is None
    assert got[6] is None
    assert got[7] is None
    assert got[8] == "www.shouty.org"
    assert got[9] == "www.shouty.org"
    assert got[10] == "bad.com"

    kept = blocklist_filter(df, bl)
    assert kept.columns == df.columns
    assert {r["doc_id"] for r in kept.collect()} == {4, 5, 6, 7}

    # host_col path: reuse an already-extracted host, no URL parse
    hdf = spark.createDataFrame(
        [(1, "Sub.Bad.Com"), (2, "fine.org")], "doc_id long, host string"
    )
    got2 = {
        r["doc_id"]: r["blocked_domain"]
        for r in with_blocked_domain(hdf, bl, host_col="host").collect()
    }
    assert got2 == {1: "bad.com", 2: None}


def test_blocklist_zero_corpus_shuffle_plan(spark):
    """The corpus never shuffles: one broadcast hash join per distinct
    blocklist label count. The only hash-partitioned exchanges in the
    plan belong to the tiny dim side's per-shape distinct (keys named
    __bl_hit_*) — never a corpus column."""
    from trainingdata_spark.textops.corpus_io import with_blocked_domain

    bl = spark.createDataFrame([("bad.com",), ("x.y.bad.net",)], "domain string")
    df = spark.createDataFrame([(1, "https://a.bad.com/")], "doc_id long, url string")
    plan = (
        with_blocked_domain(df, bl)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    for line in plan.splitlines():
        if "hashpartitioning" in line:
            assert "__bl_hit_" in line, line
    assert "BroadcastHashJoin" in plan


def test_parse_blocklist_text(spark):
    from trainingdata_spark.textops.corpus_io import parse_blocklist_text

    text = """
# comment
// another comment

BAD.com   trailing junk ignored
.dotty.org.
sole.net
"""
    got = sorted(r["domain"] for r in parse_blocklist_text(spark, text).collect())
    assert got == ["bad.com", "dotty.org", "sole.net"]


def test_blocklist_empty_list_blocks_nothing(spark):
    from trainingdata_spark.textops.corpus_io import blocklist_filter

    bl = spark.createDataFrame([], "domain string")
    df = spark.createDataFrame([(1, "https://any.com/")], "doc_id long, url string")
    assert blocklist_filter(df, bl).count() == 1


def test_blocklist_category_attribution(spark):
    """Merged UT1-style category lists: blocked rows carry the
    category of the entry that fired; a domain on several lists shows
    them comma-joined sorted; the category follows the LONGEST match
    even when a shorter entry also matches."""
    from trainingdata_spark.textops.corpus_io import (
        parse_blocklist_text,
        with_blocked_domain,
    )

    bl = (
        parse_blocklist_text(spark, "bad.com\nshared.org\n", category="adult")
        .unionByName(
            parse_blocklist_text(
                spark, "shared.org\ncasino.bad.com\n", category="gambling"
            )
        )
    )
    rows = [
        (1, "https://x.bad.com/a"),          # adult (2-label)
        (2, "https://shared.org/b"),         # both lists -> joined sorted
        (3, "https://x.casino.bad.com/c"),   # 3-label gambling wins over 2-label adult
        (4, "https://fine.net/d"),           # clean
    ]
    df = spark.createDataFrame(rows, "doc_id long, url string")
    got = {
        r["doc_id"]: (r["blocked_domain"], r["blocked_category"])
        for r in with_blocked_domain(df, bl, category_col="category").collect()
    }
    assert got[1] == ("bad.com", "adult")
    assert got[2] == ("shared.org", "adult,gambling")
    assert got[3] == ("casino.bad.com", "gambling")
    assert got[4] == (None, None)

    # without category_col the output shape is unchanged
    plain = with_blocked_domain(df, bl)
    assert "blocked_category" not in plain.columns


def test_blocklist_matches_python_reference_on_random_hosts(spark):
    """Randomized differential: the per-shape broadcast-join matcher
    agrees with a direct Python suffix matcher on 300 generated hosts
    x a 60-entry mixed-shape list (deterministic generation)."""
    import random

    from trainingdata_spark.textops.corpus_io import with_blocked_domain

    rng = random.Random(42)
    tlds = ["com", "net", "org", "io"]
    labels = ["alpha", "beta", "gamma", "delta", "epsilon", "zeta"]

    def rand_dom(n_labels):
        return ".".join(rng.choice(labels) + str(rng.randrange(6)) for _ in range(n_labels - 1)) + "." + rng.choice(tlds)

    entries = sorted({rand_dom(rng.choice([2, 2, 3, 4])) for _ in range(60)})
    hosts = []
    for _ in range(300):
        r = rng.random()
        if r < 0.4:  # subdomain of a listed entry
            hosts.append(rng.choice(["w.", "a.b.", ""]) + rng.choice(entries))
        elif r < 0.5:  # name-suffix trap: notbad.com vs bad.com
            e = rng.choice(entries)
            hosts.append("x" + e)
        else:
            hosts.append(rand_dom(rng.choice([2, 3, 4, 5])))

    def ref_match(host):
        best = None
        for e in entries:
            if host == e or host.endswith("." + e):
                if best is None or e.count(".") > best.count("."):
                    best = e
        return best

    df = spark.createDataFrame(
        [(i, h) for i, h in enumerate(hosts)], "doc_id long, host string"
    )
    bl = spark.createDataFrame([(e,) for e in entries], "domain string")
    got = {
        r["doc_id"]: r["blocked_domain"]
        for r in with_blocked_domain(df, bl, host_col="host").collect()
    }
    exp = {i: ref_match(h) for i, h in enumerate(hosts)}
    assert got == exp
    assert sum(v is not None for v in exp.values()) > 50  # non-trivial corpus


def test_blocklist_shuffle_fallback_matches_broadcast_path(spark):
    """Randomized differential for the beyond-broadcast escape hatch
    (broadcast=False, round-9 verdict ask #4): the distinct-host
    suffix-explode + shuffle-join + longest-win re-group must return
    EXACTLY what the per-shape broadcast path returns — including
    multi-category comma-joins, NULL hosts (never blocked), FQDN
    trailing dots, and the notbad.com name-suffix trap — on 400
    generated rows x an 80-entry three-category mixed-shape list."""
    import random

    from trainingdata_spark.textops.corpus_io import with_blocked_domain

    rng = random.Random(99)
    tlds = ["com", "net", "org"]
    labels = ["alpha", "beta", "gamma", "delta"]

    def rand_dom(n_labels):
        return ".".join(
            rng.choice(labels) + str(rng.randrange(5)) for _ in range(n_labels - 1)
        ) + "." + rng.choice(tlds)

    entries = sorted({rand_dom(rng.choice([2, 2, 3, 4])) for _ in range(80)})
    bl_rows = [(e, rng.choice(["ads", "adult", "gambling"])) for e in entries]
    # a few domains listed under MULTIPLE categories
    for e in entries[:8]:
        bl_rows.append((e, "phishing"))
    hosts = []
    for _ in range(400):
        r = rng.random()
        if r < 0.08:
            hosts.append(None)
        elif r < 0.45:
            hosts.append(rng.choice(["w.", "a.b.", ""]) + rng.choice(entries)
                         + rng.choice(["", "."]))
        elif r < 0.55:
            hosts.append("x" + rng.choice(entries))
        else:
            hosts.append(rand_dom(rng.choice([2, 3, 4, 5])))
    df = spark.createDataFrame(
        [(i, h) for i, h in enumerate(hosts)], "doc_id long, host string"
    )
    bl = spark.createDataFrame(bl_rows, "domain string, category string")

    def rows(broadcast):
        return sorted(
            (r["doc_id"], r["blocked_domain"], r["blocked_category"])
            for r in with_blocked_domain(
                df, bl, host_col="host", category_col="category",
                broadcast=broadcast,
            ).collect()
        )

    fast, fallback = rows(True), rows(False)
    assert fast == fallback
    assert sum(v is not None for _, v, _ in fast) > 80  # non-trivial
    assert any(c is not None and "," in c for _, _, c in fast)  # multi-cat hit

    # host_dim (round-10 verdict ask #6): probing a caller-supplied
    # host dimension instead of re-deriving from the corpus must be
    # result-identical — here a RAW un-deduped, un-normalized column
    # relation (mixed case + duplicates) covering every corpus host
    dim = spark.createDataFrame(
        [(h.upper() if i % 2 else h,) for i, h in enumerate(hosts) if h is not None]
        + [(h,) for h in hosts if h is not None][:50],
        "anyname string",
    )
    with_dim = sorted(
        (r["doc_id"], r["blocked_domain"], r["blocked_category"])
        for r in with_blocked_domain(
            df, bl, host_col="host", category_col="category",
            broadcast=False, host_dim=dim,
        ).collect()
    )
    assert with_dim == fast
    # the caller's completeness contract: a host absent from host_dim
    # is silently unblocked
    blocked_host = next(
        h for (i, v, _), h in zip(fast, hosts) if v is not None and h
    )
    norm = lambda h: h.lower().rstrip(".")  # noqa: E731
    partial = spark.createDataFrame(
        [(h,) for h in hosts if h is not None and norm(h) != norm(blocked_host)],
        "host string",
    )
    part_rows = {
        r["doc_id"]: r["blocked_domain"]
        for r in with_blocked_domain(
            df, bl, host_col="host", category_col="category",
            broadcast=False, host_dim=partial,
        ).collect()
    }
    missing_ids = [
        i for i, h in enumerate(hosts)
        if h is not None and norm(h) == norm(blocked_host)
    ]
    assert missing_ids and all(part_rows[i] is None for i in missing_ids)

    # empty blocklist: both paths block nothing, same output schema
    empty = spark.createDataFrame([], "domain string, category string")
    for b in (True, False):
        out = with_blocked_domain(
            df, empty, host_col="host", category_col="category", broadcast=b
        )
        assert {"blocked_domain", "blocked_category"} <= set(out.columns)
        assert out.filter(out.blocked_domain.isNotNull()).count() == 0
