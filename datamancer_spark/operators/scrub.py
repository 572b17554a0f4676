"""Text scrubbing for LLM training pipelines: PII redaction and URL
hygiene.

Beyond-reference surface (the reference is a general dataframe engine;
these are the scrub/normalize steps a 100 TB text pipeline runs before
training). Everything is JVM-side ``regexp_replace`` /
``regexp_extract_all`` Catalyst expressions — zero Python in the data
path, so the whole module runs inside whole-stage codegen next to the
scan: no shuffle, no UDF worker, embarrassingly parallel.

The synthetic test corpus contains no PII, so these operators carry
unit tests with crafted inputs (tests/test_scrub.py) rather than
driver-contract queries; the Spark-side plumbing (expression shapes,
column contracts) is identical either way.

Patterns are intentionally conservative (precision over recall): a
training pipeline prefers leaving an ambiguous token alone to mangling
prose. Each pattern is RE2-compatible (no backrefs/lookahead) so the
same regexes port to DuckDB/Trino/Hyperscan prefilters.
"""

from __future__ import annotations

import re as _re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# -- PII patterns (RE2-safe: no lookarounds, no backreferences) -------------

EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
# Phone numbers, precision-first: optional +CC then the 3-3-4 shape with
# at most ONE separator between groups, \b-anchored on both digit edges.
# The previous free-form class ([0-9()\-. ]{7,14}) had no anchors and a
# bare space separator, so prose digit runs merged into one match
# ("years 2010 2011 2012" → a single <PHONE>) and long numeric ids were
# partially eaten (ADVICE r3). The fixed-shape form cannot span digit
# groups through prose spaces, and the \b edges mean a digit run longer
# than the shape never matches a substring of itself. Deliberately
# missed (conservative by design): spaced international formats like
# "+44 20 7946 0958" and bare 7-digit locals.
PHONE_RE = (
    r"(?:\+[0-9]{1,2}[ .\-]?)?\(?\b[0-9]{3}\)?[ .\-]?[0-9]{3}[ .\-]?[0-9]{4}\b"
)
IPV4_RE = (
    r"\b(?:(?:25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])\.){3}"
    r"(?:25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])\b"
)
SSN_RE = r"\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b"
# 13-16 digit runs with optional single spaces/dashes between groups —
# the shape of PAN numbers; validation (Luhn) is out of scope for a
# regex pass and handled downstream if needed
CCN_RE = r"\b[0-9]{4}[ -]?[0-9]{4}[ -]?[0-9]{4}[ -]?[0-9]{1,4}\b"

DEFAULT_PII = {
    "email": (EMAIL_RE, "<EMAIL>"),
    "ssn": (SSN_RE, "<SSN>"),
    "ccn": (CCN_RE, "<CCN>"),
    "ipv4": (IPV4_RE, "<IP>"),
    "phone": (PHONE_RE, "<PHONE>"),
}
# replacement order matters: SSN/CCN before the greedier phone pattern,
# so a dashed SSN is tagged <SSN>, not half-eaten as a phone number


def redact_pii(
    df: DataFrame,
    text_col: str = "text",
    out_col: str | None = None,
    patterns: dict[str, tuple[str, str]] | None = None,
    count_cols: bool = True,
) -> DataFrame:
    """Redact PII spans in ``text_col``, replacing each with a typed
    placeholder token (``<EMAIL>``, ``<PHONE>``, ...). Adds
    ``{out_col}`` (default: overwrite ``text_col``) and, when
    ``count_cols``, one ``n_{kind}`` BIGINT column per pattern with the
    number of spans redacted — the per-document audit trail quality
    filters key on ("drop docs with >k emails").

    One narrow projection: k ``regexp_count`` + k chained
    ``regexp_replace`` expressions, all codegen'd next to the scan.
    Patterns apply in dict order (see DEFAULT_PII ordering note); each
    count is evaluated on the text AFTER the earlier patterns ran, so
    ``n_{kind}`` is exactly the number of spans that pattern redacted
    (an SSN consumed by the ssn pattern is not also counted as a
    phone)."""
    pats = patterns if patterns is not None else DEFAULT_PII
    out = out_col or text_col
    cols = [c for c in df.columns if c != out]
    proj: list[Column] = [F.col(c) for c in cols]
    counts: list[Column] = []
    red = F.col(text_col)
    for kind, (rx, token) in pats.items():
        if count_cols:
            counts.append(
                F.regexp_count(red, F.lit(rx)).cast("long").alias(f"n_{kind}")
            )
        red = F.regexp_replace(red, rx, token)
    proj += counts
    proj.append(red.alias(out))
    return df.select(*proj)


# -- URLs -------------------------------------------------------------------

def resolve_dot_segments(path: Column) -> Column:
    """RFC 3986 §5.2.4 dot-segment removal as ONE Catalyst
    ``F.aggregate`` fold over the '/'-split segments (JVM whole-stage
    codegen, no UDF): ``..`` pops the last output segment, ``.``
    drops, everything else (including empty segments from ``//``)
    appends. Leading ``..`` above the root stays at the root, per the
    RFC. Documented simplification: a path ENDING in ``/..`` or ``/.``
    loses the RFC's trailing slash (crawl canonicalizers treat the
    directory and its index as one key anyway); a literal trailing
    ``/`` is preserved. Empty input stays empty."""
    inner = F.regexp_replace(path, "^/", "")
    segs = F.split(inner, "/")
    folded = F.aggregate(
        segs,
        F.lit(""),
        lambda acc, x: (
            F.when(x == "..", F.regexp_replace(acc, "(^|/)[^/]*$", ""))
            .when(x == ".", acc)
            .when(acc == "", x)
            .otherwise(F.concat(acc, F.lit("/"), x))
        ),
    )
    return F.when(path == "", F.lit("")).otherwise(
        F.concat(F.lit("/"), folded)
    )


def normalize_url(url: Column) -> Column:
    """Canonical URL form for dedup keys: lowercase scheme+host (scheme
    matching is case-insensitive per RFC 3986 §3.1 — ``HTTP://`` URLs
    normalize instead of mangling, r12), strip the default port
    (``:80`` http / ``:443`` https, r12), strip fragment, resolve
    ``.``/``..`` dot segments (r12, ``resolve_dot_segments``), strip
    common tracking params (utm_*, fbclid, gclid), drop a trailing
    ``/`` on bare paths. Non-http(s) inputs pass through unchanged.
    Conservative: the query-string scrub removes only the
    known-tracking keys, preserving semantic params; percent-encoding is NOT normalized
    (decoding unreserved escapes changes bytes — out of scope,
    documented)."""
    u = F.regexp_replace(url, r"#.*$", "")  # fragment
    scheme = F.lower(F.regexp_extract(u, r"(?i)^(https?)://", 1))
    hostport = F.lower(F.regexp_extract(u, r"(?i)^https?://([^/?]*)", 1))
    host = (
        F.when(scheme == "http", F.regexp_replace(hostport, ":80$", ""))
        .when(scheme == "https", F.regexp_replace(hostport, ":443$", ""))
        .otherwise(hostport)
    )
    tail = F.regexp_extract(u, r"(?i)^https?://[^/?]*(.*)$", 1)
    path = resolve_dot_segments(F.regexp_extract(tail, r"^([^?]*)", 1))
    u = F.when(
        scheme == "", u  # unknown scheme: pass through untouched
    ).otherwise(
        F.concat(
            scheme,
            F.lit("://"),
            host,
            path,
            F.regexp_extract(tail, r"^[^?]*(\?.*)?$", 1),
        )
    )
    # Split at the FIRST '?' before scrubbing, and scrub tracking keys
    # only inside the query region: the previous whole-URL scrub +
    # first-'&' re-anchor mangled path-'&' URLs that also carried a
    # leading tracking param ("https://x.com/a&b?utm_x=1" became
    # "https://x.com/a?b" — ADVICE r3). A literal '&' in the path can
    # never be rewritten now because the path never enters the scrub.
    base = F.regexp_extract(u, r"^([^?]*)", 1)
    q = F.regexp_extract(u, r"^[^?]*\?(.*)$", 1)
    q = F.regexp_replace(q, r"(?:^|&)(?:utm_[a-z]+|fbclid|gclid)=[^&]*", "")
    q = F.regexp_replace(q, r"^&+", "")  # leading-param removal residue
    u = F.when(F.length(q) > 0, F.concat(base, F.lit("?"), q)).otherwise(base)
    return F.regexp_replace(u, r"^(https?://[^/?]+)/$", r"$1")


# Pragmatic multi-label public-suffix subset (the full Mozilla PSL is
# ~9k rules and a moving target; crawl curation needs the COMMON
# two-label registries so "a.co.uk" and "b.co.uk" don't collapse into
# one "co.uk" domain). Callers with the full PSL pass their own list.
DEFAULT_MULTI_SUFFIXES = (
    "co.uk", "org.uk", "ac.uk", "gov.uk", "me.uk", "net.uk",
    "com.au", "net.au", "org.au", "edu.au", "gov.au",
    "co.jp", "ne.jp", "or.jp", "ac.jp", "go.jp",
    "com.br", "net.br", "org.br", "gov.br",
    "com.cn", "net.cn", "org.cn", "gov.cn",
    "com.mx", "org.mx", "co.in", "net.in", "org.in", "gov.in",
    "co.kr", "or.kr", "com.tw", "org.tw", "com.sg", "com.hk",
    "co.za", "org.za", "com.ar", "com.tr", "co.nz", "net.nz",
    "org.nz", "com.my", "co.id", "co.th", "com.vn", "com.ph",
    "co.il", "org.il", "com.eg", "com.sa", "com.ua", "com.pk",
)


def registrable_domain(
    host: Column,
    multi_suffixes: tuple[str, ...] = DEFAULT_MULTI_SUFFIXES,
) -> Column:
    """eTLD+1 (registrable domain) from a lowercase host — the key
    per-domain crawl policies aggregate on (caps, reputation, robots
    budgets): subdomains of one registrant collapse ("news.bbc.co.uk"
    and "www.bbc.co.uk" → "bbc.co.uk") while distinct registrants under
    a shared public suffix stay apart ("a.co.uk" ≠ "b.co.uk").

    Rule: if the last TWO labels form a known multi-label public suffix
    the registrable domain is the last THREE labels, else the last TWO;
    hosts with ≤2 labels, empty/NULL hosts and IPv4-literal hosts pass
    through unchanged. Pure Catalyst (split + slice + isin against the
    literal suffix set) — codegen'd, broadcast-free, no UDF. Three-label
    suffixes (act.edu.au-style) are out of scope of the embedded subset;
    callers needing full PSL fidelity supply ``multi_suffixes``."""
    h = F.lower(F.coalesce(host, F.lit("")))
    labels = F.split(h, r"\.")
    n = F.size(labels)
    last2 = F.concat_ws(".", F.slice(labels, -2, 2))
    last3 = F.concat_ws(".", F.slice(labels, -3, 3))
    is_ip = h.rlike(r"^[0-9]+\.[0-9]+\.[0-9]+\.[0-9]+$")
    return (
        F.when(n <= 2, h)
        .when(is_ip, h)
        .when(last2.isin(*multi_suffixes), last3)
        .otherwise(last2)
    )


def url_quality_filter(
    df: DataFrame,
    url_col: str = "url",
    blocked_hosts: list[str] | None = None,
    blocked_path_terms: tuple[str, ...] = ("spam", "casino", "porn"),
    max_path_depth: int = 8,
    max_query_params: int = 8,
    blocked_hosts_df: DataFrame | None = None,
) -> DataFrame:
    """URL-level page gate (r10) — the C4/RefinedWeb-style curation
    stage that screens pages BY URL before any payload work: scheme
    must be http(s), host not on the blocklist, no blocked term in the
    path/query, path not absurdly deep, query not parameter-stuffed.
    Adds ``url_pass`` (boolean) and ``url_reasons`` (comma-joined
    firing rule names, "" when clean) — the same serialized-reasons
    shape as the Gopher battery, so a pipeline can gate on the boolean
    and audit the reasons.

    All pure Catalyst regexp/string expressions (RE2-safe) — the gate
    runs inside whole-stage codegen next to the crawl scan, BEFORE
    text extraction or decode, which is the whole point at 100 TB:
    a page rejected by its URL costs zero payload bytes downstream.
    ``blocked_hosts`` is an exact lowercase host list (driver-side —
    the typical curated blocklist is thousands of entries, fine as a
    literal ``isin``); ``blocked_hosts_df`` is the SCALE path — a
    one-column ``host`` frame joined on the extracted host (AQE
    broadcasts it while it fits, shuffles when a 100M-entry list
    doesn't), composable with the literal list."""
    # a NULL url must FAIL the gate, not null-propagate through every
    # rule into an empty reason string (= pass): coalesce to "" so the
    # scheme rule fires
    url = F.coalesce(F.col(url_col), F.lit(""))
    host = F.lower(F.regexp_extract(url, r"^https?://([^/:?#]+)", 1))
    joined_flag = None
    if blocked_hosts_df is not None:
        bl = blocked_hosts_df.select(
            F.lower(F.col("host")).alias("_bl_host"),
            F.lit(True).alias("_bl_hit"),
        ).distinct()
        df = df.withColumn("_req_host", host).join(
            bl, F.col("_req_host") == F.col("_bl_host"), "left"
        ).drop("_bl_host", "_req_host")
        joined_flag = F.coalesce(F.col("_bl_hit"), F.lit(False))
    path = F.regexp_extract(url, r"^https?://[^/?#]+(/[^?#]*)", 1)
    query = F.regexp_extract(url, r"^[^?#]*\?([^#]*)", 1)
    rules = {
        "bad_scheme": ~url.rlike(r"^https?://"),
        "blocked_host": (
            host.isin([h.lower() for h in blocked_hosts])
            if blocked_hosts
            else F.lit(False)
        )
        | (joined_flag if joined_flag is not None else F.lit(False)),
        # terms are literal words, not regex fragments: escape them so
        # a term like "c++" can never break (or widen) the pattern
        "blocked_term": F.lower(F.concat(path, F.lit("?"), query)).rlike(
            "|".join(_re.escape(t.lower()) for t in blocked_path_terms)
        )
        if blocked_path_terms
        else F.lit(False),
        "too_deep": F.length(path) - F.length(F.replace(path, F.lit("/")))
        > max_path_depth,
        "param_stuffed": F.when(
            F.length(query) == 0, F.lit(False)
        ).otherwise(F.size(F.split(query, "&")) > max_query_params),
    }
    reasons = F.concat_ws(
        ",", *[F.when(cond, F.lit(name)) for name, cond in rules.items()]
    )
    out = df.withColumn("url_reasons", reasons)
    if joined_flag is not None:
        out = out.drop("_bl_hit")
    return out.withColumn("url_pass", F.col("url_reasons") == F.lit(""))


# -- mojibake (UTF-8 double-encoding) ----------------------------------------


def _cp1252ish(b: bytes) -> str:
    """Decode bytes the way browsers (WHATWG windows-1252) do: cp1252
    with the five undefined slots (81 8D 8F 90 9D) falling back to the
    C1 controls — the exact transform that MANUFACTURES mojibake when
    UTF-8 bytes pass through it, so the broken forms below are derived,
    not hand-typed (and the source file carries no raw control bytes)."""
    out = []
    for x in b:
        try:
            out.append(bytes([x]).decode("cp1252"))
        except UnicodeDecodeError:
            out.append(chr(x))
    return "".join(out)


#: high-frequency Western-text chars whose UTF-8 bytes, read as
#: windows-1252, yield the classic artifacts ('\u00e9' -> 'A-tilde (c)',
#: curly quote -> 'a-circumflex euro tm'). Precision-first subset: each
#: broken form is unambiguous in organic prose, no broken form is a
#: prefix of another (3-char forms lead with U+00E2, 2-char with
#: U+00C3/U+00C2), and none contains a regex metacharacter -- so the
#: detection alternation is order-independent and ports verbatim to RE2.
_MOJIBAKE_CHARS = (
    "\u2019\u201c\u201d\u2013\u2014\u2026"  # curly quotes, dashes, ellipsis
    "\u00e9\u00e8\u00e1\u00e0\u00e4\u00f6\u00fc\u00f1\u00e7"
    "\u00f3\u00fa\u00ed\u00ef\u00df"        # Western accents
    "\u00b0\u00ab\u00bb\u00a0"               # degree, guillemets, nbsp
)

MOJIBAKE_MAP: list[tuple[str, str]] = [
    (_cp1252ish(ch.encode("utf-8")), ch) for ch in _MOJIBAKE_CHARS
]

#: literal alternation over the broken sequences (metacharacter- and
#: prefix-freedom asserted so a future entry can't silently break the
#: leftmost-first == leftmost-longest equivalence both engines rely on)
MOJIBAKE_PATTERN = "|".join(b for b, _ in MOJIBAKE_MAP)
assert not any(
    _re.search(r"[\\.^$|?*+()\[\]{}]", b) for b, _ in MOJIBAKE_MAP
)
assert not any(
    i != j and b2.startswith(b1)
    for i, (b1, _) in enumerate(MOJIBAKE_MAP)
    for j, (b2, _) in enumerate(MOJIBAKE_MAP)
)


def mojibake_hits(text: Column) -> Column:
    """Count of double-encoding artifacts in ``text`` (non-overlapping,
    leftmost-first over the literal alternation — identical in Java
    regex and RE2 because no alternative is a prefix of another).
    NULL-safe: NULL text scores 0. Pure codegen — the screen runs
    corpus-wide next to the scan."""
    return F.size(
        F.regexp_extract_all(
            F.coalesce(text, F.lit("")), F.lit(MOJIBAKE_PATTERN), F.lit(0)
        )
    ).cast("long")


def fix_mojibake(text: Column, passes: int = 1) -> Column:
    """Repair the mapped double-encodings via a chain of LITERAL
    replaces (no regex engine in the loop). Each pass repairs ONE
    encoding layer — that is the honest semantics of any single-layer
    repair: fixing the outer layer of nested/juxtaposed mojibake
    EXPOSES the inner one (e.g. 'Â' + 'Â°' → first pass yields 'Â°',
    a broken form again), so fix∘fix ≠ fix in general. Every
    replacement maps ≥2 chars to 1, so iterating strictly shrinks the
    string and reaches a detector-clean fixpoint in ≤ len(text)
    passes; pass ``passes=2..3`` to cover the doubly/triply-encoded
    text seen in the wild as one expression tree."""
    out = text
    for _ in range(int(passes)):
        for broken, fixed in MOJIBAKE_MAP:
            out = F.replace(out, F.lit(broken), F.lit(fixed))
    return out

