"""WARC crawl ingestion — the front end of a training-data pipeline
(Common Crawl convention: ``*.warc.gz`` with one gzip member per
record).

Beyond-reference surface (the reference engine reads CSV/HDF5 only;
see SURVEY.md §2.1): at 100 TB the corpus ARRIVES as WARC, so the
engine needs the crawl→corpus step in-plan, not as a side pipeline.

Scale design
------------
* Whole-file bytes arrive as a binary column (``spark.read.format
  ("binaryFile")`` in production; any (id, bytes) frame works — the
  fixtures manufacture one). Record splitting, gzip-member walking and
  HTTP payload decoding run EXECUTOR-SIDE in one Arrow-batched
  ``mapInPandas`` pass; decompression is C-speed ``zlib``. Only the
  extracted rows (uri, text) ever shuffle.
* HTML→text is a pure Catalyst ``regexp_replace`` chain
  (``html_text_col``) — whole-stage-codegen JVM work, zero Python in
  the per-document hot path after extraction.
* Malformed input is certain at crawl scale and must not kill tasks
  (same posture as the r8 truncated-WAV guards): a corrupt gzip
  member, a truncated record, an over-long declared Content-Length or
  a bad HTTP payload SKIPS that record (or yields it with null HTTP
  fields), never raises.

Format notes (public specs: ISO 28500 WARC 1.0/1.1; RFC 9110/9112 for
the HTTP payloads). No spec tables are involved anywhere — WARC and HTTP are
self-describing text formats.
"""

from __future__ import annotations

import zlib
from typing import Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

_CRLF2 = b"\r\n\r\n"


def _gunzip_members(blob: bytes):
    """Yield the decompressed bytes of each gzip member (Common Crawl
    writes one WARC record per member). Corrupt members end the walk —
    everything already yielded stays valid."""
    pos = 0
    n = len(blob)
    while pos < n and blob[pos : pos + 2] == b"\x1f\x8b":
        d = zlib.decompressobj(wbits=31)
        try:
            out = d.decompress(blob[pos:])
        except zlib.error:
            return
        yield out
        consumed = len(blob) - pos - len(d.unused_data)
        if consumed <= 0 or not d.eof:
            return
        pos += consumed


def _parse_headers(block: bytes):
    """Lowercased-key dict from a CRLF header block (value whitespace
    stripped; duplicate keys keep the first)."""
    headers = {}
    for line in block.split(b"\r\n"):
        if b":" not in line:
            continue
        k, _, v = line.partition(b":")
        key = k.strip().lower().decode("latin-1")
        if key not in headers:
            headers[key] = v.strip().decode("latin-1", "replace")
    return headers


def _split_warc_records(buf: bytes):
    """Yield (headers, payload) per WARC record in a plain (already
    decompressed) WARC stream. Tolerant: scans to the next ``WARC/``
    magic, stops on truncation."""
    pos = 0
    n = len(buf)
    while pos < n:
        start = buf.find(b"WARC/", pos)
        if start < 0:
            return
        head_end = buf.find(_CRLF2, start)
        if head_end < 0:
            return
        headers = _parse_headers(buf[start:head_end])
        try:
            length = int(headers.get("content-length", ""))
        except ValueError:
            # unparseable length: resync on the next record magic
            pos = start + 5
            continue
        body_start = head_end + 4
        if length < 0 or body_start + length > n:
            return  # truncated final record
        yield headers, buf[body_start : body_start + length]
        pos = body_start + length


def _decode_chunked(body: bytes):
    """RFC 9112 chunked transfer decoding; returns None on malformed
    framing (caller falls back to the raw body)."""
    out = []
    pos = 0
    n = len(body)
    while pos < n:
        eol = body.find(b"\r\n", pos)
        if eol < 0:
            return None
        size_tok = body[pos:eol].split(b";", 1)[0].strip()
        try:
            size = int(size_tok, 16)
        except ValueError:
            return None
        if size == 0:
            return b"".join(out)
        chunk_end = eol + 2 + size
        if chunk_end > n:
            return None
        out.append(body[eol + 2 : chunk_end])
        pos = chunk_end + 2  # skip the chunk's trailing CRLF
    return None


def _parse_http_payload(payload: bytes):
    """(status, content_type, body) from a raw HTTP response payload;
    (None, None, payload) when it isn't one. Undoes chunked transfer
    encoding and gzip/deflate content encoding."""
    if not payload.startswith(b"HTTP/"):
        return None, None, payload
    head_end = payload.find(_CRLF2)
    if head_end < 0:
        return None, None, payload
    head = payload[:head_end]
    status_line, _, header_block = head.partition(b"\r\n")
    parts = status_line.split(None, 2)
    try:
        status = int(parts[1])
    except (IndexError, ValueError):
        return None, None, payload
    headers = _parse_headers(header_block)
    body = payload[head_end + 4 :]
    if "chunked" in headers.get("transfer-encoding", "").lower():
        dechunked = _decode_chunked(body)
        if dechunked is not None:
            body = dechunked
    enc = headers.get("content-encoding", "").lower()
    if enc in ("gzip", "x-gzip", "deflate"):
        try:
            body = zlib.decompress(body, wbits=47 if enc != "deflate" else 15)
        except zlib.error:
            pass  # leave the raw body; better than dropping the record
    ctype = headers.get("content-type")
    return status, ctype, body


WARC_RECORD_SCHEMA = [
    StructField("rec_idx", IntegerType()),
    StructField("warc_type", StringType()),
    StructField("target_uri", StringType()),
    StructField("warc_date", StringType()),
    StructField("content_type", StringType()),
    StructField("http_status", IntegerType()),
    StructField("http_content_type", StringType()),
    StructField("payload", BinaryType()),
]


def warc_records(
    df: DataFrame, bin_col: str = "content", id_col: str = "doc_id"
) -> DataFrame:
    """One row per WARC record: (id, rec_idx, warc_type, target_uri,
    warc_date, content_type, http_status, http_content_type, payload).

    Accepts plain WARC bytes or per-record/whole-file gzip (the
    ``.warc.gz`` magic dispatches). ``payload`` for response records is
    the HTTP BODY (status/type lifted into columns, transfer- and
    content-encoding undone); for every other record type it is the raw
    record block. Malformed records are skipped, truncation stops the
    walk — a corrupt blob yields its valid prefix and never raises."""
    out_schema = StructType([df.schema[id_col]] + WARC_RECORD_SCHEMA)

    def rows_of(blob):
        if blob is None:
            return
        blob = bytes(blob)
        if blob[:2] == b"\x1f\x8b":
            streams = _gunzip_members(blob)
        else:
            streams = (blob,)
        idx = 0
        for stream in streams:
            for headers, payload in _split_warc_records(stream):
                wtype = headers.get("warc-type")
                status, http_ctype, body = (None, None, payload)
                if wtype in ("response", "revisit") and payload.startswith(
                    b"HTTP/"
                ):
                    status, http_ctype, body = _parse_http_payload(payload)
                yield (
                    idx,
                    wtype,
                    headers.get("warc-target-uri"),
                    headers.get("warc-date"),
                    headers.get("content-type"),
                    status,
                    http_ctype,
                    body,
                )
                idx += 1

    cols = [f.name for f in WARC_RECORD_SCHEMA]

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out = {id_col: [], **{c: [] for c in cols}}
            for rid, blob in zip(pdf[id_col], pdf[bin_col]):
                for row in rows_of(blob):
                    out[id_col].append(rid)
                    for c, v in zip(cols, row):
                        out[c].append(v)
            # object dtype keeps ints exact and None as null
            yield pd.DataFrame(
                {k: pd.Series(v, dtype=object) for k, v in out.items()}
            )

    return df.select(id_col, bin_col).mapInPandas(batches, out_schema)


# --- charset-aware payload decoding (r12, VERDICT r11 #2) -------------------
#
# Real crawls are ~5-15% non-UTF-8 (windows-1252 / latin-1 dominate the
# tail); decoding everything as UTF-8 turns those pages into mojibake
# (or nulls) that silently poisons every downstream text tier. Charset
# resolution follows the WHATWG encoding-sniffing order, all
# Catalyst-side: BOM > HTTP Content-Type charset param > HTML <meta>
# sniff over the first 1024 bytes > default. Two documented deviations
# from the letter of WHATWG: (1) the no-declaration default is UTF-8,
# not windows-1252 — the modern-web/Common-Crawl reality (UTF-8 is >95%
# of pages) and the back-compatible choice for undeclared fixtures;
# (2) the supported set is {utf-8, windows-1252 (+ latin-1/ascii
# labels, which WHATWG maps to it), utf-16le/be} — the long tail
# (shift_jis, gb2312, ...) REFUSES loudly (text NULL, charset column
# carries the label) rather than emitting mojibake, the codec-tier
# honesty posture.
#
# windows-1252 decodes JVM-side with zero Python: ISO-8859-1 is a
# byte-preserving bijection into U+0000..U+00FF, and cp1252 differs
# from it ONLY on 0x80-0x9F — a 1:1 char map, i.e. one F.translate.
# The map is derived from Python's codec tables at import time (the
# five undefined cp1252 bytes pass through as C1 controls, the WHATWG
# behavior).

_CP1252_FROM = "".join(chr(c) for c in range(0x80, 0xA0))
_CP1252_TO = "".join(
    bytes([c]).decode("cp1252", "ignore") or chr(c)
    for c in range(0x80, 0xA0)
)

#: label → decoder family, lowercased WHATWG labels (subset)
_UTF8_LABELS = ("utf-8", "utf8", "unicode-1-1-utf-8")
_CP1252_LABELS = (
    "windows-1252", "cp1252", "x-cp1252", "ansi_x3.4-1968",
    "iso-8859-1", "iso8859-1", "iso_8859-1", "iso_8859-1:1987",
    "latin-1", "latin1", "l1", "cp819", "ibm819", "csisolatin1",
    "us-ascii", "ascii",
)

_CHARSET_RE = r'charset\s*=\s*["\']?\s*([A-Za-z0-9:._-]+)'


def charset_of(payload: Column, http_ctype: Column) -> Column:
    """Resolved charset label for an HTML payload (lowercase string;
    never NULL — the default is 'utf-8'). WHATWG sniffing order: BOM,
    then the HTTP Content-Type charset parameter, then a <meta> charset
    scan over the first 1024 bytes (decoded byte-preservingly as
    ISO-8859-1 — the meta tag itself is ASCII in every encoding this
    supports), then the default."""
    bom = (
        F.when(
            F.substring(payload, 1, 3) == F.lit(b"\xef\xbb\xbf"),
            F.lit("utf-8"),
        )
        .when(
            F.substring(payload, 1, 2) == F.lit(b"\xff\xfe"),
            F.lit("utf-16le"),
        )
        .when(
            F.substring(payload, 1, 2) == F.lit(b"\xfe\xff"),
            F.lit("utf-16be"),
        )
    )
    hdr = F.lower(
        F.regexp_extract(
            F.coalesce(http_ctype, F.lit("")), "(?i)" + _CHARSET_RE, 1
        )
    )
    head = F.decode(F.substring(payload, 1, 1024), "ISO-8859-1")
    meta = F.lower(
        F.regexp_extract(
            head, r"(?i)<meta[^>]{0,512}?" + _CHARSET_RE, 1
        )
    )
    return F.coalesce(
        bom,
        F.nullif(hdr, F.lit("")),
        F.nullif(meta, F.lit("")),
        F.lit("utf-8"),
    )


def decode_payload_text(payload: Column, charset: Column) -> Column:
    """Decode an HTML payload under a resolved charset label — NULL for
    unsupported labels (loud refusal; the charset column says why). All
    JVM-side, and the dominant arms NEVER RAISE (the malformed-input
    posture of the whole module — real crawl pages lie about their
    charset constantly):

    * UTF-8 decodes via ``make_valid_utf8`` over the byte-preserving
      binary→string cast — invalid sequences become U+FFFD, matching
      Python's ``errors='replace'``. (Spark 4's ``F.decode(…, 'UTF-8')``
      THROWS MALFORMED_CHARACTER_CODING on bad bytes by default — one
      mojibake page would kill the task; found by the r12 edge test.)
    * windows-1252 / latin-1 / ascii labels translate from ISO-8859-1,
      a total byte bijection — cannot fail.
    * UTF-16LE/BE/generic keep ``F.decode`` behind an even-length
      guard (odd payloads — the common truncation — refuse to NULL).
      Residual: an even-length payload with broken surrogate pairs
      still raises in this JVM-only tier; crawls that must never raise
      route through ``ingest_warc_with_fallback``, whose Python arm
      decodes UTF-16 with replacement.

    A leading BOM char is stripped after decode (U+FEFF is markup
    noise downstream)."""
    latin = F.decode(payload, "ISO-8859-1")
    even = F.length(payload) % 2 == 0
    decoded = (
        F.when(
            charset.isin(*_UTF8_LABELS),
            F.make_valid_utf8(payload.cast("string")),
        )
        .when(
            charset.isin(*_CP1252_LABELS),
            F.translate(latin, _CP1252_FROM, _CP1252_TO),
        )
        .when(
            (charset == "utf-16le") & even, F.decode(payload, "UTF-16LE")
        )
        .when(
            (charset == "utf-16be") & even, F.decode(payload, "UTF-16BE")
        )
        .when((charset == "utf-16") & even, F.decode(payload, "UTF-16"))
    )
    return F.regexp_replace(decoded, "^\\ufeff", "")


def html_text_col(html: Column) -> Column:
    """HTML → visible text as a pure Catalyst expression chain (JVM
    whole-stage codegen; no Python per document): drop script/style/
    head subtrees and comments, strip tags, decode the common named
    entities, collapse whitespace. A deliberately simple extractor —
    boilerplate REMOVAL (nav/footer pruning) is the quality battery's
    job downstream (gopher rules, line dedup, repetition screens)."""
    t = F.regexp_replace(html, r"(?is)<(script|style|head)\b[^>]*>.*?</\1\s*>", " ")
    t = F.regexp_replace(t, r"(?s)<!--.*?-->", " ")
    # block-level closers become newlines so words don't fuse
    t = F.regexp_replace(t, r"(?i)</(p|div|li|h[1-6]|tr|br)\s*>|<br\s*/?>", "\n")
    t = F.regexp_replace(t, r"(?s)<[^>]*>", " ")
    # &amp; must decode LAST: doing it first turns double-escaped
    # entities (&amp;lt;) into &lt; which the later passes would then
    # wrongly decode to '<'
    for ent, rep in [
        ("&nbsp;", " "), ("&lt;", "<"), ("&gt;", ">"),
        ("&quot;", '"'), ("&#39;", "'"), ("&amp;", "&"),
    ]:
        t = F.replace(t, F.lit(ent), F.lit(rep))
    return F.trim(F.regexp_replace(t, r"\s+", " "))


def ingest_warc(
    df: DataFrame,
    bin_col: str = "content",
    id_col: str = "doc_id",
    min_status: int = 200,
    max_status: int = 299,
) -> DataFrame:
    """The crawl→corpus front end: WARC bytes → one text row per kept
    HTML response — (id, rec_idx, url, host, charset, text). Keeps 2xx
    HTML responses; host extraction, charset sniffing (BOM → HTTP
    header → meta, see ``charset_of``) and HTML→text run JVM-side on
    the already-thin record frame. ``text`` is NULL when the declared
    charset is outside the supported set (documented refusal — the
    ``charset`` column carries the offending label)."""
    recs = warc_records(df, bin_col=bin_col, id_col=id_col)
    kept = recs.filter(
        (F.col("warc_type") == "response")
        & F.col("http_status").between(min_status, max_status)
        & F.col("http_content_type").rlike("(?i)text/html")
    )
    cs = charset_of(F.col("payload"), F.col("http_content_type"))
    return kept.select(
        F.col(id_col),
        "rec_idx",
        F.col("target_uri").alias("url"),
        F.regexp_extract(F.col("target_uri"), r"^[a-zA-Z][a-zA-Z0-9+.-]*://([^/:?#]+)", 1).alias(
            "host"
        ),
        cs.alias("charset"),
        html_text_col(
            decode_payload_text(F.col("payload"), cs)
        ).alias("text"),
    )


#: labels the fallback tier's JVM fast arm decodes. UTF-16 is
#: deliberately EXCLUDED here: the JVM utf-16 decode can still raise on
#: broken surrogate pairs, so the never-raise fallback pipeline sends
#: those (rare) pages through the Python arm's errors='replace' decode.
_JVM_LABELS = set(_UTF8_LABELS) | set(_CP1252_LABELS)


def ingest_warc_with_fallback(
    df: DataFrame,
    bin_col: str = "content",
    id_col: str = "doc_id",
    min_status: int = 200,
    max_status: int = 299,
) -> DataFrame:
    """``ingest_warc`` plus the charset LONG TAIL (r12): rows whose
    sniffed charset the JVM tier supports decode fast (zero Python);
    the rest — shift_jis, gb2312, euc-kr, big5, koi8-r, every label in
    Python's bundled codec registry — decode through ONE Arrow-batched
    ``pandas_udf`` that does ONLY the byte decode (HTML→text stays the
    JVM regexp chain on the returned string). Labels even Python
    doesn't know keep the loud-refusal contract: text NULL, charset
    column carries the label.

    Tiering is a FRAME SPLIT on the charset label, not a per-row
    conditional: the slow arm's UDF only ever sees the refused rows
    (real crawls: ~5-15%), so the corpus-dominant path stays
    whole-stage codegen. ``errors='replace'`` degrades malformed bytes
    to U+FFFD instead of killing tasks (the malformed-input posture of
    the whole module)."""
    import pandas as pd  # noqa: F811 (worker-side)
    from pyspark.sql import functions as F  # noqa: F811

    recs = warc_records(df, bin_col=bin_col, id_col=id_col)
    kept = recs.filter(
        (F.col("warc_type") == "response")
        & F.col("http_status").between(min_status, max_status)
        & F.col("http_content_type").rlike("(?i)text/html")
    ).withColumn(
        "charset", charset_of(F.col("payload"), F.col("http_content_type"))
    )
    base_cols = [
        F.col(id_col),
        "rec_idx",
        F.col("target_uri").alias("url"),
        F.regexp_extract(
            "target_uri", r"^[a-zA-Z][a-zA-Z0-9+.-]*://([^/:?#]+)", 1
        ).alias("host"),
        "charset",
    ]
    fast = kept.filter(F.col("charset").isin(*_JVM_LABELS)).select(
        *base_cols,
        html_text_col(
            decode_payload_text(F.col("payload"), F.col("charset"))
        ).alias("text"),
    )

    @F.pandas_udf("string")
    def _py_decode(payloads: "pd.Series", charsets: "pd.Series") -> "pd.Series":
        out = []
        for blob, cs in zip(payloads, charsets):
            if blob is None or cs is None:
                out.append(None)
                continue
            try:
                s = bytes(blob).decode(cs, errors="replace")
                out.append(s.lstrip("\ufeff"))
            except LookupError:
                out.append(None)  # label unknown even to Python: refuse
        return pd.Series(out, dtype=object)

    slow = kept.filter(~F.col("charset").isin(*_JVM_LABELS)).select(
        *base_cols,
        html_text_col(
            _py_decode(F.col("payload"), F.col("charset"))
        ).alias("text"),
    )
    return fast.unionByName(slow)


def extract_links(
    df: DataFrame,
    bin_col: str = "content",
    id_col: str = "doc_id",
    min_status: int = 200,
    max_status: int = 299,
) -> DataFrame:
    """The crawl→GRAPH front end (r12, VERDICT r11 #4): WARC bytes →
    one ``<a href>`` edge row per kept 2xx-HTML response —
    ``(id, rec_idx, src_url, src_host, dst_url, dst_host)`` — feeding
    ``components.pagerank`` / ``hits`` from the same bytes the corpus
    tiers ingest. Entirely Catalyst after the record walk: charset-
    aware payload decode, three ``regexp_extract_all`` passes for
    double-quoted / single-quoted / unquoted href values, entity
    decode (``&amp;`` is ubiquitous in real URLs), fragment strip.

    Resolution arms (minimal RFC 3986 merge, documented bounds):
    absolute http(s) kept verbatim; protocol-relative ``//host/..``
    inherits the page scheme; root-relative ``/path`` joins the page's
    scheme://host; anything else resolves against the page URL's
    directory. Dot-segments are NOT normalized (``../`` stays literal
    — a canonicalization pass is the frontier layer's job, same
    posture as the sitemap parser's scope bounds).
    ``javascript:``/``mailto:``/``tel:``/``data:`` pseudo-links and
    pure-fragment anchors drop."""
    recs = warc_records(df, bin_col=bin_col, id_col=id_col)
    kept = recs.filter(
        (F.col("warc_type") == "response")
        & F.col("http_status").between(min_status, max_status)
        & F.col("http_content_type").rlike("(?i)text/html")
    )
    cs = charset_of(F.col("payload"), F.col("http_content_type"))
    html = decode_payload_text(F.col("payload"), cs)
    hrefs = F.concat(
        F.regexp_extract_all(
            html, F.lit(r'(?is)<a\b[^>]*?href\s*=\s*"([^"]*)"'), 1
        ),
        F.regexp_extract_all(
            html, F.lit(r"(?is)<a\b[^>]*?href\s*=\s*'([^']*)'"), 1
        ),
        F.regexp_extract_all(
            html,
            F.lit(r'(?is)<a\b[^>]*?href\s*=\s*([^\s"\x27>][^\s>]*)'),
            1,
        ),
    )
    pages = kept.select(
        F.col(id_col),
        "rec_idx",
        F.col("target_uri").alias("src_url"),
        F.explode(hrefs).alias("_href"),
    )
    # entity-decode (&amp; LAST — see html_text_col), strip fragment
    href = F.trim(F.col("_href"))
    for ent, rep in [
        ("&lt;", "<"), ("&gt;", ">"), ("&quot;", '"'),
        ("&#39;", "'"), ("&amp;", "&"),
    ]:
        href = F.replace(href, F.lit(ent), F.lit(rep))
    href = F.regexp_replace(href, "#.*$", "")
    scheme = F.lower(
        F.regexp_extract("src_url", r"^([a-zA-Z][a-zA-Z0-9+.-]*):", 1)
    )
    root = F.regexp_extract(
        "src_url", r"^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]+", 0
    )
    # page directory: the path up to (and incl.) its last '/', else '/'
    pathdir = F.coalesce(
        F.nullif(
            F.regexp_extract(
                "src_url",
                r"^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]+((?:/[^?#]*)?/)",
                1,
            ),
            F.lit(""),
        ),
        F.lit("/"),
    )
    dst = (
        F.when(href.rlike(r"^[a-zA-Z][a-zA-Z0-9+.-]*://"), href)
        .when(href.startswith("//"), F.concat(scheme, F.lit(":"), href))
        .when(href.startswith("/"), F.concat(root, href))
        .otherwise(F.concat(root, pathdir, href))
    )
    out = pages.select(
        F.col(id_col),
        "rec_idx",
        "src_url",
        F.regexp_extract(
            "src_url", r"^[a-zA-Z][a-zA-Z0-9+.-]*://([^/:?#]+)", 1
        ).alias("src_host"),
        href.alias("_h"),
        dst.alias("dst_url"),
    ).filter(
        (F.length("_h") > 0)
        & ~F.col("_h").rlike(r"(?i)^(javascript|mailto|tel|data):")
    )
    return out.select(
        F.col(id_col),
        "rec_idx",
        "src_url",
        "src_host",
        "dst_url",
        F.regexp_extract(
            "dst_url", r"^[a-zA-Z][a-zA-Z0-9+.-]*://([^/:?#]+)", 1
        ).alias("dst_host"),
    )


def extract_anchors(
    df: DataFrame,
    bin_col: str = "content",
    id_col: str = "doc_id",
    min_status: int = 200,
    max_status: int = 299,
) -> DataFrame:
    """``extract_links``' companion that KEEPS the anchor text (r12) —
    ``(id, rec_idx, src_url, dst_url, anchor_text)``. Anchor text
    describes the TARGET page (the classic inlink-text signal for
    ranking and for labeling training documents), which per-href
    extraction drops. One regexp pass explodes whole ``<a>…</a>``
    elements so the href and its inner text stay PAIRED (the
    three-pass quoted/unquoted href scan can't pair attributes with
    bodies); per-element href parsing then handles both quote styles
    and unquoted values. Inner markup is stripped and entities decode
    with the html_text_col rules; same URL resolution arms and
    pseudo-link drops as extract_links."""
    recs = warc_records(df, bin_col=bin_col, id_col=id_col)
    kept = recs.filter(
        (F.col("warc_type") == "response")
        & F.col("http_status").between(min_status, max_status)
        & F.col("http_content_type").rlike("(?i)text/html")
    )
    cs = charset_of(F.col("payload"), F.col("http_content_type"))
    html = decode_payload_text(F.col("payload"), cs)
    elements = F.regexp_extract_all(
        html, F.lit(r"(?is)<a\b[^>]*>.*?</a\s*>"), 0
    )
    pages = kept.select(
        F.col(id_col),
        "rec_idx",
        F.col("target_uri").alias("src_url"),
        F.explode(elements).alias("_a"),
    )
    href = F.coalesce(
        F.nullif(
            F.regexp_extract("_a", r'(?is)<a\b[^>]*?href\s*=\s*"([^"]*)"', 1),
            F.lit(""),
        ),
        F.nullif(
            F.regexp_extract("_a", r"(?is)<a\b[^>]*?href\s*=\s*'([^']*)'", 1),
            F.lit(""),
        ),
        F.nullif(
            F.regexp_extract(
                "_a", r'(?is)<a\b[^>]*?href\s*=\s*([^\s"\x27>][^\s>]*)', 1
            ),
            F.lit(""),
        ),
    )
    href = F.trim(href)
    for ent, rep in [
        ("&lt;", "<"), ("&gt;", ">"), ("&quot;", '"'),
        ("&#39;", "'"), ("&amp;", "&"),
    ]:
        href = F.replace(href, F.lit(ent), F.lit(rep))
    href = F.regexp_replace(href, "#.*$", "")
    anchor = html_text_col(
        F.regexp_extract("_a", r"(?is)<a\b[^>]*>(.*?)</a\s*>", 1)
    )
    scheme = F.lower(
        F.regexp_extract("src_url", r"^([a-zA-Z][a-zA-Z0-9+.-]*):", 1)
    )
    root = F.regexp_extract(
        "src_url", r"^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]+", 0
    )
    pathdir = F.coalesce(
        F.nullif(
            F.regexp_extract(
                "src_url",
                r"^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]+((?:/[^?#]*)?/)",
                1,
            ),
            F.lit(""),
        ),
        F.lit("/"),
    )
    dst = (
        F.when(href.rlike(r"^[a-zA-Z][a-zA-Z0-9+.-]*://"), href)
        .when(href.startswith("//"), F.concat(scheme, F.lit(":"), href))
        .when(href.startswith("/"), F.concat(root, href))
        .otherwise(F.concat(root, pathdir, href))
    )
    return pages.select(
        F.col(id_col),
        "rec_idx",
        "src_url",
        href.alias("_h"),
        dst.alias("dst_url"),
        anchor.alias("anchor_text"),
    ).filter(
        F.col("_h").isNotNull()
        & (F.length("_h") > 0)
        & ~F.col("_h").rlike(r"(?i)^(javascript|mailto|tel|data):")
    ).drop("_h")
