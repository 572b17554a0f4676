"""WARC/WET ingestion tier (operators/warc.py) against the
deterministic fixture (fixtures.warc_blob) plus adversarial inputs.
The fixture's expected values are recomputed here INDEPENDENTLY from
the closed forms so a bug shared by generator and parser can't hide."""

import gzip
import zlib

import pytest
from pyspark.sql import functions as F

from datamancer_spark.operators.fixtures import synth_blob_frame, warc_blob
from datamancer_spark.operators.warc import (
    _decode_chunked,
    _gunzip_members,
    html_text_col,
    ingest_warc,
    warc_records,
)


def expected_rows(i):
    """Closed-form ingest_warc output for id ``i`` (independent of the
    generator's string building)."""
    rows = []
    for k in range(1 + i % 3):
        if (i + k) % 5 == 0:
            continue
        m = 5 + (i + 2 * k) % 11
        text = f"Doc {i} " + " ".join(f"w{j}" for j in range(m)) + " &"
        rows.append(
            (
                i,
                2 + 2 * k,
                f"http://h{(i + k) % 7}.example/p/{i}/{k}",
                f"h{(i + k) % 7}.example",
                "utf-8",  # fixture declares charset=utf-8 in the header
                text,
            )
        )
    return rows


def blob_frame(spark, ids):
    df = spark.createDataFrame([(i,) for i in ids], "doc_id long")
    return synth_blob_frame(df, warc_blob)


class TestWarcRecords:
    def test_record_inventory(self, spark):
        # id 7 (odd -> plain WARC): warcinfo + 2 req/resp pairs
        recs = warc_records(blob_frame(spark, [7])).collect()
        types = [r["warc_type"] for r in recs]
        assert types == ["warcinfo", "request", "response"] * 1 + [
            "request",
            "response",
        ]
        assert [r["rec_idx"] for r in recs] == list(range(5))
        resp = [r for r in recs if r["warc_type"] == "response"]
        assert all(r["target_uri"].startswith("http://h") for r in resp)
        assert all(r["warc_date"] == "2026-01-01T00:00:00Z" for r in recs)

    def test_gzip_member_walk(self, spark):
        # id 6 (even): one gzip member per record, same inventory
        recs = warc_records(blob_frame(spark, [6])).collect()
        assert [r["warc_type"] for r in recs] == [
            "warcinfo"
        ] + ["request", "response"]

    def test_http_fields_and_encodings(self, spark):
        # ids 0..11 cover chunked / gzip / identity framing x both
        # outer layouts; every 200-response body must be intact HTML
        recs = warc_records(blob_frame(spark, list(range(12)))).collect()
        ok = [
            r
            for r in recs
            if r["warc_type"] == "response" and r["http_status"] == 200
        ]
        assert len(ok) > 0
        for r in ok:
            assert r["http_content_type"].startswith("text/html")
            body = bytes(r["payload"])
            assert body.startswith(b"<html>") and body.endswith(b"</html>")
        statuses = {
            r["http_status"]
            for r in recs
            if r["warc_type"] == "response"
        }
        assert statuses == {200, 404}

    def test_request_payload_raw(self, spark):
        recs = warc_records(blob_frame(spark, [7])).collect()
        req = [r for r in recs if r["warc_type"] == "request"][0]
        assert bytes(req["payload"]).startswith(b"GET ")
        assert req["http_status"] is None


class TestIngest:
    def test_closed_form_exact(self, spark):
        ids = list(range(40))
        got = sorted(
            tuple(r)
            for r in ingest_warc(blob_frame(spark, ids)).collect()
        )
        want = sorted(sum((expected_rows(i) for i in ids), []))
        assert got == want

    def test_404_filtered(self, spark):
        # id 5, k=0: (5+0)%5==0 -> 404 dropped; k=1..2 kept? i%3=2 -> k in 0..2
        rows = ingest_warc(blob_frame(spark, [5])).collect()
        assert [r["rec_idx"] for r in sorted(rows, key=lambda r: r["rec_idx"])] == [4, 6]


class TestAdversarial:
    def test_truncated_plain_and_gzip(self, spark):
        for i in (7, 6):  # plain / gzip outer
            full = warc_blob(i)
            for frac in (0.9, 0.5, 0.1):
                cut = full[: int(len(full) * frac)]
                df = spark.createDataFrame([(1, bytearray(cut))], "doc_id long, content binary")
                warc_records(df).collect()  # must not raise

    def test_corrupt_gzip_member_stops_cleanly(self):
        a = gzip.compress(b"WARC/1.0\r\nWARC-Type: x\r\nContent-Length: 0\r\n\r\n\r\n\r\n", mtime=0)
        b = bytearray(gzip.compress(b"more", mtime=0))
        b[12] ^= 0xFF
        out = list(_gunzip_members(bytes(a + b)))
        assert len(out) >= 1 and out[0].startswith(b"WARC/1.0")

    def test_garbage_and_empty(self, spark):
        df = spark.createDataFrame(
            [(1, bytearray(b"\x00\x01not a warc")), (2, bytearray(b"")), (3, None)],
            "doc_id long, content binary",
        )
        assert warc_records(df).count() == 0

    def test_bad_content_length_resync(self, spark):
        bad = (
            b"WARC/1.0\r\nWARC-Type: junk\r\nContent-Length: zzz\r\n\r\n"
            + warc_blob(7)
        )
        df = spark.createDataFrame([(1, bytearray(bad))], "doc_id long, content binary")
        types = [r["warc_type"] for r in warc_records(df).collect()]
        assert "warcinfo" in types and "response" in types

    def test_overlong_declared_length(self, spark):
        rec = b"WARC/1.0\r\nWARC-Type: response\r\nContent-Length: 99999\r\n\r\nshort"
        df = spark.createDataFrame([(1, bytearray(rec))], "doc_id long, content binary")
        assert warc_records(df).count() == 0

    def test_malformed_chunked_falls_back(self):
        assert _decode_chunked(b"not hex\r\nbody") is None
        assert _decode_chunked(b"5\r\nhe") is None  # truncated chunk
        assert _decode_chunked(b"3\r\nabc\r\n0\r\n\r\n") == b"abc"

    def test_corrupt_content_encoding_keeps_raw(self, spark):
        body = b"\x1f\x8bnot really gzip"
        http = (
            b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n"
            b"Content-Encoding: gzip\r\nContent-Length: %d\r\n\r\n" % len(body)
            + body
        )
        rec = (
            b"WARC/1.0\r\nWARC-Type: response\r\n"
            b"WARC-Target-URI: http://x/\r\n"
            b"Content-Type: application/http; msgtype=response\r\n"
            b"Content-Length: %d\r\n\r\n" % len(http)
            + http
            + b"\r\n\r\n"
        )
        df = spark.createDataFrame([(1, bytearray(rec))], "doc_id long, content binary")
        r = warc_records(df).collect()[0]
        assert r["http_status"] == 200 and bytes(r["payload"]) == body


class TestHtmlText:
    CASES = [
        (
            "<html><head><title>T</title><style>p{}</style></head>"
            "<body><h1>A</h1><p>b c</p></body></html>",
            "A b c",
        ),
        ("<p>x<!-- hidden secret --></p><p>y</p>", "x y"),
        ("a<br>b<br/>c", "a b c"),
        ("<script>var x = '<p>no</p>';</script>visible", "visible"),
        ("&lt;tag&gt; &amp; &quot;q&quot; &#39;s&#39; &nbsp;end", "<tag> & \"q\" 's' end"),
        # double-escaped entities decode exactly ONE level: &amp;lt;
        # renders as the literal text "&lt;", not "<"
        ("&amp;lt;b&amp;gt; &amp;amp; &amp;quot;", "&lt;b&gt; &amp; &quot;"),
        ("<div>one</div><div>two</div>", "one two"),
        ("<STYLE>x</STYLE>ok", "ok"),
    ]

    def test_cases(self, spark):
        df = spark.createDataFrame(
            [(i, h) for i, (h, _) in enumerate(self.CASES)], "i int, html string"
        )
        out = {
            r["i"]: r["t"]
            for r in df.select("i", html_text_col(F.col("html")).alias("t")).collect()
        }
        for i, (_, want) in enumerate(self.CASES):
            assert out[i] == want, (i, out[i])

    def test_is_catalyst_only(self, spark):
        # no Python UDF: the expression must survive explain without
        # a BatchEvalPython/ArrowEvalPython node
        df = spark.range(1).select(html_text_col(F.lit("<p>x</p>")).alias("t"))
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "EvalPython" not in plan


class TestFuzz:
    """Property: the record walk is total — ANY bytes (random, mutated
    fixtures, random truncations) parse to a (possibly empty) record
    list without raising. This is the 100-TB contract: corrupt blobs
    are certain at crawl scale and must cost a record, not a task.
    Pure-Python driver-side fuzz (no Spark round trip per example)."""

    from hypothesis import given, settings
    from hypothesis import strategies as st

    def _walk(self, blob):
        from datamancer_spark.operators.warc import (
            _gunzip_members,
            _parse_http_payload,
            _split_warc_records,
        )

        streams = (
            _gunzip_members(blob) if blob[:2] == b"\x1f\x8b" else (blob,)
        )
        n = 0
        for s in streams:
            for h, p in _split_warc_records(s):
                if p.startswith(b"HTTP/"):
                    _parse_http_payload(p)
                n += 1
        return n

    @given(st.binary(max_size=512))
    @settings(max_examples=300, deadline=None)
    def test_random_bytes_never_raise(self, data):
        self._walk(data)

    @given(
        i=st.integers(min_value=0, max_value=500),
        pos=st.floats(min_value=0.0, max_value=1.0),
        mut=st.integers(min_value=0, max_value=255),
    )
    @settings(max_examples=200, deadline=None)
    def test_mutated_fixture_never_raises(self, i, pos, mut):
        from datamancer_spark.operators.fixtures import warc_blob

        blob = bytearray(warc_blob(i))
        blob[int(pos * (len(blob) - 1))] ^= mut
        self._walk(bytes(blob))

    @given(
        i=st.integers(min_value=0, max_value=500),
        frac=st.floats(min_value=0.0, max_value=1.0),
    )
    @settings(max_examples=200, deadline=None)
    def test_truncation_yields_prefix(self, i, frac):
        from datamancer_spark.operators.fixtures import warc_blob

        full = warc_blob(i)
        n_full = self._walk(full)
        n_cut = self._walk(full[: int(len(full) * frac)])
        assert 0 <= n_cut <= n_full


def test_charset_sniffing_priority_and_refusal(spark):
    """r12 charset decode: BOM > HTTP header > meta sniff > UTF-8
    default; latin-1 labels fold into windows-1252 (WHATWG); an
    unsupported label refuses (NULL) instead of emitting mojibake."""
    from pyspark.sql import functions as F

    from datamancer_spark.operators.warc import (
        charset_of,
        decode_payload_text,
    )

    cp = "caf\u00e9 \u20ac".encode("cp1252")  # e-acute + euro in cp1252
    df = spark.createDataFrame(
        [
            (0, bytearray(cp), "text/html; charset=windows-1252"),
            # latin-1 label folds into cp1252 per WHATWG (0x80 -> euro)
            (1, bytearray(cp), "text/html; charset=ISO-8859-1"),
            # BOM beats a (wrong) header label
            (2, bytearray(b"\xef\xbb\xbf" + "caf\u00e9".encode("utf-8")),
             "text/html; charset=shift_jis"),
            # meta sniff when the header is silent
            (3, bytearray(b'<meta charset="windows-1252">' + cp),
             "text/html"),
            # no declaration anywhere: documented UTF-8 default
            (4, bytearray(b"plain ascii"), "text/html"),
            # unsupported label: loud refusal, label preserved
            (5, bytearray(b"abc"), "text/html; charset=gb2312"),
        ],
        "k int, payload binary, ctype string",
    )
    cs = charset_of(F.col("payload"), F.col("ctype"))
    out = df.select(
        "k",
        cs.alias("cs"),
        decode_payload_text(F.col("payload"), cs).alias("text"),
    ).orderBy("k").collect()
    got = [(r["cs"], r["text"]) for r in out]
    assert got[0] == ("windows-1252", "caf\u00e9 \u20ac")
    assert got[1] == ("iso-8859-1", "caf\u00e9 \u20ac")
    assert got[2] == ("utf-8", "caf\u00e9")  # BOM wins AND is stripped
    assert got[3][0] == "windows-1252"  # meta sniff fired
    assert got[3][1].endswith("caf\u00e9 \u20ac")
    assert got[4] == ("utf-8", "plain ascii")  # documented default
    assert got[5] == ("gb2312", None)  # loud refusal, label preserved


def test_extract_links_resolution_arms(spark):
    """r12 crawl->graph seam: absolute / protocol-relative /
    root-relative / path-relative hrefs resolve; quoted and unquoted
    forms parse; entities decode BEFORE resolution; javascript:/
    mailto:/fragment anchors drop."""
    from datamancer_spark.operators.fixtures import synth_blob_frame
    from datamancer_spark.operators.warc import extract_links

    body = (
        '<html><body>'
        '<a href="http://other.example/x?a=1&amp;b=2">abs</a>'
        "<a href='/root/y'>rooted</a>"
        '<a href=//proto.example/z>proto-unquoted</a>'
        '<a href="sub/rel">rel</a>'
        '<A HREF="UPPER/case">caps</A>'
        '<a href="javascript:void(0)">js</a>'
        '<a href="mailto:a@b.c">mail</a>'
        '<a href="#frag">frag</a>'
        '</body></html>'
    ).encode()
    http = (
        b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n"
        + b"Content-Length: %d\r\n\r\n" % len(body) + body
    )
    uri = b"http://site.example/dir/page.html"
    rec = (
        b"WARC/1.0\r\nWARC-Type: response\r\nWARC-Target-URI: " + uri
        + b"\r\nWARC-Date: 2026-01-01T00:00:00Z"
        + b"\r\nContent-Type: application/http; msgtype=response"
        + b"\r\nContent-Length: " + str(len(http)).encode()
        + b"\r\n\r\n" + http + b"\r\n\r\n"
    )
    df = spark.createDataFrame([(1, bytearray(rec))],
                               "doc_id long, content binary")
    rows = extract_links(df).collect()
    got = sorted(r["dst_url"] for r in rows)
    assert got == sorted([
        "http://other.example/x?a=1&b=2",      # entity decoded
        "http://site.example/root/y",           # root-relative
        "http://proto.example/z",               # protocol-relative
        "http://site.example/dir/sub/rel",      # path-relative
        "http://site.example/dir/UPPER/case",   # unquoted+case attrs
    ])
    hosts = {r["dst_host"] for r in rows}
    assert hosts == {"other.example", "site.example", "proto.example"}
    assert all(r["src_host"] == "site.example" for r in rows)


def test_extract_anchors_pairs_href_with_text(spark):
    """r12 anchor extraction: each href stays PAIRED with its own
    inner text (markup-stripped, entity-decoded); pseudo-links and
    href-less anchors drop."""
    from datamancer_spark.operators.warc import extract_anchors

    body = (
        "<html><body>"
        '<a href="/one">First &amp; <b>bold</b></a>'
        "<a href='//h2.example/two'>Second</a>"
        '<a href=three>Third one</a>'
        '<a href="javascript:x()">nope</a>'
        "<a name=anchor-no-href>skip</a>"
        "</body></html>"
    ).encode()
    http = (
        b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n"
        + b"Content-Length: %d\r\n\r\n" % len(body) + body
    )
    rec = (
        b"WARC/1.0\r\nWARC-Type: response\r\n"
        b"WARC-Target-URI: http://h.example/dir/p.html\r\n"
        b"WARC-Date: 2026-01-01T00:00:00Z\r\n"
        b"Content-Type: application/http; msgtype=response\r\n"
        b"Content-Length: " + str(len(http)).encode()
        + b"\r\n\r\n" + http + b"\r\n\r\n"
    )
    df = spark.createDataFrame([(1, bytearray(rec))],
                               "doc_id long, content binary")
    got = {
        r["dst_url"]: r["anchor_text"]
        for r in extract_anchors(df).collect()
    }
    assert got == {
        "http://h.example/one": "First & bold",
        "http://h2.example/two": "Second",
        "http://h.example/dir/three": "Third one",
    }


def test_charset_of_short_and_empty_payloads(spark):
    """Edge hardening: payloads shorter than the BOM probes (0-2
    bytes) must sniff safely (default utf-8), and NULL payloads must
    not crash the charset chain."""
    from pyspark.sql import functions as F

    from datamancer_spark.operators.warc import (
        charset_of,
        decode_payload_text,
    )

    df = spark.createDataFrame(
        [
            (0, bytearray(b""), "text/html"),
            (1, bytearray(b"\xef"), "text/html"),
            (2, bytearray(b"\xff"), "text/html"),
            (3, bytearray(b"ab"), "text/html"),
            (4, None, "text/html; charset=windows-1252"),
        ],
        "k int, payload binary, ctype string",
    )
    cs = charset_of(F.col("payload"), F.col("ctype"))
    out = df.select(
        "k", cs.alias("cs"),
        decode_payload_text(F.col("payload"), cs).alias("t"),
    ).orderBy("k").collect()
    got = [(r["cs"], r["t"]) for r in out]
    assert got[0] == ("utf-8", "")
    # lone 0xEF / 0xFF: not BOMs, and INVALID UTF-8 — must decode to
    # U+FFFD, never raise (Spark's F.decode throws
    # MALFORMED_CHARACTER_CODING here; the r12 edge test that found it)
    assert got[1] == ("utf-8", "\ufffd")
    assert got[2] == ("utf-8", "\ufffd")
    assert got[3] == ("utf-8", "ab")
    assert got[4][0] == "windows-1252" and got[4][1] is None


def test_decode_never_raises_on_lying_charsets(spark):
    """The never-raise posture under adversarial bytes: a page that
    DECLARES utf-8 but carries invalid bytes decodes with U+FFFD; an
    odd-length utf-16 payload (truncation) refuses to NULL instead of
    killing the task; the fallback tier decodes even a surrogate-broken
    utf-16 page via Python's replacement."""
    from pyspark.sql import functions as F

    from datamancer_spark.operators.warc import (
        charset_of,
        decode_payload_text,
    )

    df = spark.createDataFrame(
        [
            (0, bytearray(b"ok \xff\xfe bad"),
             "text/html; charset=utf-8"),
            (1, bytearray(b"\xff\xfeA\x00B"),  # BOM + odd tail byte
             "text/html"),
        ],
        "k int, payload binary, ctype string",
    )
    cs = charset_of(F.col("payload"), F.col("ctype"))
    out = df.select(
        "k", cs.alias("cs"),
        decode_payload_text(F.col("payload"), cs).alias("t"),
    ).orderBy("k").collect()
    assert out[0]["cs"] == "utf-8"
    assert out[0]["t"] == "ok \ufffd\ufffd bad"  # replaced, not raised
    assert out[1]["cs"] == "utf-16le"
    assert out[1]["t"] is None  # odd length: refuse, don't raise
