"""Text-analysis functions for large-scale training-data pipelines.

All hot-path functions are pure Catalyst Column expressions (JVM-side,
whole-stage codegen — no Python in the loop), so they vectorize and scale
to 100 TB document corpora. Each has an exact ANSI/DuckDB-SQL twin used by
the differential oracle (__spark_entry__.oracle_sql).

Beyond-reference surface: the Datamancer reference has no text operators
(SURVEY.md §2.12); these follow the BASELINE.json north star (LLM-data-
pipeline operators as first-class components).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Punctuation class shared verbatim with the DuckDB oracle — keep explicit
# (no [[:punct:]]) so both regex engines agree.
PUNCT_CLASS = r"[.,!?;:'\"()\[\]{}-]"

# Tiny per-language stopword marker sets for the n-gram language heuristic.
# Deterministic and SQL-replicable (space-padded substring counting).
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "is"),
    "de": ("der", "die", "und", "ist", "das"),
    "fr": ("le", "la", "et", "est", "les"),
    "es": ("el", "la", "que", "es", "los"),
}


def unicode_normalize(text: Column, form: str = "NFC") -> Column:
    """Unicode normalization (r11) — the canonicalization step every
    crawl pipeline needs BEFORE fingerprinting/dedup (the same page
    served precomposed ('é') and decomposed ('e'+U+0301) would
    otherwise fingerprint differently and never dedup). The JVM has no
    Catalyst normalization expression, so this is the documented
    Python exception: an Arrow-batched pandas_udf over
    ``unicodedata.normalize`` (per-batch, not per-row dispatch; the
    kernel is a C call). NFC is the cross-engine-verifiable form
    (DuckDB ``nfc_normalize`` is the oracle twin); NFKC/NFD/NFKD are
    accepted for pipelines that want them but carry no SQL twin.
    NULLs pass through."""
    if form not in ("NFC", "NFD", "NFKC", "NFKD"):
        raise ValueError(f"unknown normalization form {form!r}")
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    def _norm_impl(s):
        import unicodedata

        return s.map(
            lambda x: unicodedata.normalize(form, x)
            if x is not None
            else None
        )

    # real annotation objects (this module uses `from __future__ import
    # annotations`, so inline hints would be strings pyspark cannot
    # resolve against module globals)
    _norm_impl.__annotations__ = {"s": pd.Series, "return": pd.Series}
    return pandas_udf(_norm_impl, "string")(text)


def token_count(text: Column) -> Column:
    """Whitespace token count. ``split(trim(x), '\\s+')`` — identical
    semantics to DuckDB ``len(regexp_split_to_array(trim(x), '\\s+'))``.
    NULL counts as 0 tokens (not size-of-NULL's −1)."""
    text = F.coalesce(text, F.lit(""))
    return F.when(F.length(F.trim(text)) == 0, F.lit(0)).otherwise(
        F.size(F.split(F.trim(text), r"\s+"))
    )


def char_count(text: Column) -> Column:
    return F.length(text)


# GPT-2-style coarse token classes (ASCII approximation shared verbatim
# with the DuckDB oracle): letter runs, digit runs, single non-space
# symbols. A real BPE vocab refines these splits; the class pattern is
# the engine-portable upper bound used for budget estimation.
BPE_ISH_PATTERN = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def bpe_token_count(text: Column) -> Column:
    """BPE-ish token estimate: count of letter-run/digit-run/symbol
    matches. DuckDB twin: len(regexp_extract_all(text, pattern))."""
    return F.size(F.regexp_extract_all(text, F.lit(BPE_ISH_PATTERN), F.lit(0)))


def punct_count(text: Column) -> Column:
    """Count of punctuation chars = len - len(with punctuation removed)."""
    return F.length(text) - F.length(F.regexp_replace(text, PUNCT_CLASS, ""))


def digit_ratio(text: Column) -> Column:
    return (
        F.length(text) - F.length(F.regexp_replace(text, "[0-9]", ""))
    ) / F.greatest(F.length(text), F.lit(1))


def avg_word_length(text: Column) -> Column:
    """Mean token length: chars-without-whitespace / token count."""
    stripped = F.length(F.regexp_replace(text, r"\s+", ""))
    return stripped / F.greatest(token_count(text), F.lit(1))


def quality_score(text: Column) -> Column:
    """Composite heuristic quality in [0,1]: length band + punctuation
    sanity + word-shape sanity. Mirrors Gopher/C4-style rule filters
    (published heuristics), expressed as one Catalyst expression."""
    n_tok = token_count(text)
    awl = avg_word_length(text)
    len_ok = F.when((n_tok >= 5) & (n_tok <= 100000), 1.0).otherwise(0.0)
    word_ok = F.when((awl >= 2.0) & (awl <= 12.0), 1.0).otherwise(0.0)
    punct_ok = F.when(
        punct_count(text) / F.greatest(F.length(text), F.lit(1)) <= 0.2, 1.0
    ).otherwise(0.0)
    digit_ok = F.when(digit_ratio(text) <= 0.3, 1.0).otherwise(0.0)
    return (len_ok + word_ok + punct_ok + digit_ok) / F.lit(4.0)


def marker_hits(text: Column, word: str) -> Column:
    """Occurrences of ``word`` as a whitespace-delimited token, via
    pad-and-count-replacements: exactly replicable in SQL with
    ``(len(padded) - len(replace(padded, ' w ', ''))) / (len(w)+2)``.
    Overlapping occurrences ('the the') undercount identically in both
    engines — acceptable for a scoring heuristic."""
    padded = F.concat(F.lit(" "), F.lower(text), F.lit(" "))
    needle = f" {word} "
    return (
        (F.length(padded) - F.length(F.replace(padded, F.lit(needle), F.lit(""))))
        / F.lit(len(needle))
    ).cast("long")


def lang_score(text: Column, lang: str) -> Column:
    """Sum of marker-token hits for one language."""
    score = F.lit(0).cast("long")
    for w in LANG_MARKERS[lang]:
        score = score + marker_hits(text, w)
    return score


def fingerprint(text: Column) -> Column:
    """Canonical document fingerprint: md5 of lowercased,
    whitespace-collapsed text. md5 is identical across Spark and DuckDB,
    so exact-dedup results are engine-portable (unlike murmur ``F.hash``).
    NULL text fingerprints as the empty string's md5 (md5(NULL) = NULL
    would silently vanish from COUNT DISTINCT and anti-joins). NOTE this
    deliberately CONFLATES NULL docs with empty-string docs: they share
    a fingerprint and exact-dedup to one keeper. Pre-filter NULL text
    upstream if that distinction matters. Every oracle twin mirrors the
    coalesce (``trim(coalesce(text, ''))``) so the differential check
    holds on corpora that do contain NULLs."""
    canon = F.regexp_replace(
        F.lower(F.trim(F.coalesce(text, F.lit("")))), r"\s+", " "
    )
    return F.md5(canon)


#: Unicode script classes for corpus routing — EXPLICIT code-point
#: ranges (not \p{Script=...} names) so Java regex (Spark) and RE2
#: (the DuckDB oracle) agree character for character. Coverage is the
#: routing set a multilingual pipeline actually branches on; anything
#: else lands in "other".
SCRIPT_RANGES: dict[str, str] = {
    # basic latin letters + Latin-1 supplement + Extended-A/B
    "latin": "A-Za-z\u00c0-\u024f",
    # CJK unified ideographs (+ext A) — Han
    "han": "\u4e00-\u9fff\u3400-\u4dbf",
    # hiragana + katakana (+phonetic extensions)
    "kana": "\u3040-\u30ff\u31f0-\u31ff",
    "hangul": "\uac00-\ud7af\u1100-\u11ff",
    "cyrillic": "\u0400-\u04ff",
    "arabic": "\u0600-\u06ff\u0750-\u077f",
    "devanagari": "\u0900-\u097f",
}


def script_counts(text: Column) -> dict[str, Column]:
    """Per-script character counts (r12): length-difference counting —
    ``len(s) − len(regexp_replace(s, '[class]', ''))`` — which both
    Spark and DuckDB compute identically over explicit ranges (their
    length() functions both count code points). One column per script
    in ``SCRIPT_RANGES``."""
    out = {}
    for name, ranges in SCRIPT_RANGES.items():
        out[name] = (
            F.length(text)
            - F.length(F.regexp_replace(text, f"[{ranges}]", ""))
        ).cast("long")
    return out


def dominant_script(text: Column) -> Column:
    """argmax over ``script_counts`` with a deterministic tie-break
    (alphabetical script name; 'none' when no class matches at all) —
    the per-document routing key a multilingual pipeline partitions
    by."""
    counts = script_counts(text)
    best = F.lit("none")
    best_n = F.lit(0).cast("long")
    # iterate REVERSE-alphabetically with strictly-greater updates:
    # the final winner is the max count, alphabetically-first on ties
    for name in sorted(counts, reverse=True):
        c = counts[name]
        take = (c > best_n) | ((c == best_n) & (c > 0))
        best = F.when(take, F.lit(name)).otherwise(best)
        best_n = F.when(take, c).otherwise(best_n)
    return F.when(text.isNull(), F.lit(None).cast("string")).otherwise(best)
