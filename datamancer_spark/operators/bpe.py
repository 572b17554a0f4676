"""Byte-level byte-pair-encoding tokenizer: trainable merges +
distributed apply.

LLM-pipeline surface (token budgeting, sequence packing and mixture
math all want REAL tokenizer counts, not whitespace proxies). The
standard split of work:

* ``train_byte_bpe`` — learns the merge table on a bounded seeded
  SAMPLE collected to the driver. Training is inherently sequential
  (merge k+1 depends on merge k) over vocabulary-sized state, so the
  driver is the right executor — the same recipe production tokenizers
  use (they train on samples, not the corpus). Determinism:
  pair-frequency ties break lexicographically, so the same sample
  always yields the same table.
* ``byte_bpe_encode`` / ``byte_bpe_exact_token_count`` — distributed
  apply: the merge table broadcasts (vocabulary-sized) and each Arrow
  batch encodes its own rows, with a per-batch pretoken→tokens memo
  (natural-language word frequency follows Zipf, so the memo hit rate
  is enormous — the standard tokenizer-serving trick).

The tokenizer follows the GPT-2 recipe (r11): a category-based
pretokenizer (contractions / ``?letters`` / `` ?numbers`` /
`` ?other`` / whitespace-keeping-one) then BPE over the pretoken's
UTF-8 BYTES mapped through the reversible bytes↔unicode table. No OOV
is possible by construction: every byte is in the base alphabet, so
unknown scripts degrade to byte tokens instead of failing. The
pretokenizer is a hand-rolled scanner (zero runtime deps); tests pin
its equivalence to the published GPT-2 regex on mixed-script fixtures
+ hypothesis.

The synthetic corpus has no gold tokenizer to differ against, so the
tokenizer is pytest-proven with hand-computable merge sequences (the
scrub.py pattern) and lossless round-trip properties.
"""

from __future__ import annotations

import unicodedata
from collections import Counter

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: the GPT-2 pretokenizer pattern (published in openai/gpt-2
#: encoder.py); the scanner below implements it without the `regex`
#: dependency, and tests pin equivalence against this string where the
#: module is available.
GPT2_PRETOKEN_PATTERN = (
    r"""'s|'t|'re|'ve|'m|'ll|'d| ?\p{L}+| ?\p{N}+|"""
    r""" ?[^\s\p{L}\p{N}]+|\s+(?!\S)|\s+"""
)

_CONTRACTIONS = ("'s", "'t", "'re", "'ve", "'m", "'ll", "'d")


def _is_letter(c: str) -> bool:
    return unicodedata.category(c).startswith("L")


def _is_number(c: str) -> bool:
    return unicodedata.category(c).startswith("N")


def gpt2_pretokenize(text: str) -> list[str]:
    """Split ``text`` exactly as the GPT-2 pretokenizer regex does,
    with a dependency-free scanner. Alternatives in pattern order at
    each position: literal contraction; optional-space + letter run;
    optional-space + number run; optional-space + other-symbol run;
    whitespace run keeping its LAST char for the next token when a
    non-space follows (``\\s+(?!\\S)``); whole whitespace run. The
    concatenation of the pretokens is always the input (lossless)."""
    out: list[str] = []
    i, n = 0, len(text)
    while i < n:
        for c in _CONTRACTIONS:
            if text.startswith(c, i):
                out.append(c)
                i += len(c)
                break
        else:
            c0 = text[i]
            j = i + (1 if c0 == " " else 0)
            if j < n and _is_letter(text[j]):
                k = j
                while k < n and _is_letter(text[k]):
                    k += 1
                out.append(text[i:k])
                i = k
            elif j < n and _is_number(text[j]):
                k = j
                while k < n and _is_number(text[k]):
                    k += 1
                out.append(text[i:k])
                i = k
            elif j < n and not (
                text[j].isspace()
                or _is_letter(text[j])
                or _is_number(text[j])
            ):
                k = j
                while k < n and not (
                    text[k].isspace()
                    or _is_letter(text[k])
                    or _is_number(text[k])
                ):
                    k += 1
                out.append(text[i:k])
                i = k
            elif c0.isspace():
                k = i
                while k < n and text[k].isspace():
                    k += 1
                # \s+(?!\S): keep the run's last space for the next
                # token when a non-space follows (and the run has one
                # to give); a lone space before non-space falls through
                # to the bare \s+ alternative
                if k < n and k - i >= 2:
                    out.append(text[i : k - 1])
                    i = k - 1
                else:
                    out.append(text[i:k])
                    i = k
            else:
                # a space NOT followed by letter/number/other-symbol
                # (i.e. followed by more space — handled above — or
                # end of string): bare \s+ matches just it
                out.append(c0)
                i += 1
    return out


def bytes_to_unicode() -> dict[int, str]:
    """The GPT-2 reversible byte↔unicode table (public construction,
    openai/gpt-2 encoder.py): printable latin-1 bytes map to
    themselves, the rest to the U+0100.. range, so every byte string
    becomes a visible unicode string and BPE symbols stay plain
    strings (broadcastable, hashable, debuggable)."""
    bs = (
        list(range(ord("!"), ord("~") + 1))
        + list(range(ord("\xa1"), ord("\xac") + 1))
        + list(range(ord("\xae"), ord("\xff") + 1))
    )
    cs = bs[:]
    n = 0
    for b in range(256):
        if b not in bs:
            bs.append(b)
            cs.append(256 + n)
            n += 1
    return dict(zip(bs, (chr(c) for c in cs)))


_BYTE_ENCODER = bytes_to_unicode()
_BYTE_DECODER = {v: k for k, v in _BYTE_ENCODER.items()}


def _byte_symbols(pretoken: str) -> tuple[str, ...]:
    return tuple(_BYTE_ENCODER[b] for b in pretoken.encode("utf-8"))


def train_byte_bpe(
    df: DataFrame,
    text_col: str = "text",
    num_merges: int = 200,
    sample_rows: int = 10_000,
) -> list[tuple[str, str]]:
    """Learn a byte-level BPE merge table on a bounded, hash-ordered
    sample (``orderBy(xxhash64).limit`` compiles to a partial top-k —
    layout-independent, unlike a bare ``limit``). Pretokens come from
    ``gpt2_pretokenize``; base symbols are the byte↔unicode alphabet,
    so there is NO unknown token — anything unseen in training still
    encodes, one byte symbol at a time. No lowercasing and no end-of-word marker (the GPT-2
    formulation: pretoken boundaries already delimit merges). Returns
    ``[(left, right), ...]`` in merge order; ties break
    lexicographically so training is deterministic."""
    rows = (
        df.select(text_col)
        .filter(F.col(text_col).isNotNull())
        .orderBy(F.xxhash64(F.col(text_col)))
        .limit(sample_rows)
        .collect()
    )
    freqs: Counter = Counter()
    for (t,) in rows:
        freqs.update(gpt2_pretokenize(t))
    words = {w: _byte_symbols(w) for w in freqs if w}
    merges: list[tuple[str, str]] = []
    for _ in range(num_merges):
        pair_counts: Counter = Counter()
        for w, syms in words.items():
            f = freqs[w]
            for a, b in zip(syms, syms[1:]):
                pair_counts[(a, b)] += f
        if not pair_counts:
            break
        best, n = min(
            pair_counts.items(), key=lambda kv: (-kv[1], kv[0])
        )
        if n < 2:
            break
        merges.append(best)
        merged = best[0] + best[1]
        new_words = {}
        for w, syms in words.items():
            out = []
            i = 0
            while i < len(syms):
                if (
                    i + 1 < len(syms)
                    and syms[i] == best[0]
                    and syms[i + 1] == best[1]
                ):
                    out.append(merged)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            new_words[w] = tuple(out)
        words = new_words
    return merges


def _encode_pretoken(pt: str, ranks: dict, memo: dict) -> list[str]:
    got = memo.get(pt)
    if got is not None:
        return got
    syms = list(_byte_symbols(pt))
    while len(syms) > 1:
        best_rank = None
        best_i = -1
        for i in range(len(syms) - 1):
            r = ranks.get((syms[i], syms[i + 1]))
            if r is not None and (best_rank is None or r < best_rank):
                best_rank = r
                best_i = i
        if best_rank is None:
            break
        syms[best_i : best_i + 2] = [syms[best_i] + syms[best_i + 1]]
    memo[pt] = syms
    return syms


def byte_bpe_encode_text(text: str, ranks: dict, memo: dict) -> list[str]:
    """Encode one string under a byte-level merge table (rank dict).
    Driver/test-side helper; the distributed path is
    ``byte_bpe_encode``."""
    toks: list[str] = []
    for pt in gpt2_pretokenize(text):
        toks.extend(_encode_pretoken(pt, ranks, memo))
    return toks


def byte_bpe_decode_tokens(tokens: list[str]) -> str:
    """EXACT inverse of byte-level encoding: concatenate, map symbols
    back through the byte table, UTF-8 decode. Lossless for any input
    (whitespace, case, every script)."""
    data = bytes(_BYTE_DECODER[c] for c in "".join(tokens))
    return data.decode("utf-8")


def byte_bpe_encode(
    df: DataFrame,
    merges: list[tuple[str, str]],
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(id, bpe_tokens array<string>, n_bpe_tokens) under a byte-level
    merge table: broadcast ranks, Arrow batches, a per-batch
    pretoken→tokens memo. No OOV is possible and the round trip is
    exact."""
    import pandas as pd
    from pyspark.sql.types import (
        ArrayType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    ranks = {pair: i for i, pair in enumerate(merges)}
    bc = df.sparkSession.sparkContext.broadcast(ranks)
    out_schema = StructType(
        [
            df.schema[id_col],
            StructField("bpe_tokens", ArrayType(StringType())),
            StructField("n_bpe_tokens", LongType()),
        ]
    )

    def batches(it):
        ranks_l = bc.value
        memo: dict = {}
        for pdf in it:
            toks_col = []
            n_col = []
            for t in pdf[text_col]:
                if t is None:
                    toks_col.append([])
                    n_col.append(0)
                    continue
                toks = byte_bpe_encode_text(t, ranks_l, memo)
                toks_col.append(toks)
                n_col.append(len(toks))
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "bpe_tokens": toks_col,
                    "n_bpe_tokens": n_col,
                }
            )

    return df.select(id_col, text_col).mapInPandas(batches, out_schema)


def byte_bpe_exact_token_count(
    df: DataFrame,
    merges: list[tuple[str, str]],
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(id, n_bpe_tokens) under a trained byte-level table — the
    budgeting column for corpora where whitespace counts lie (CJK,
    Thai, code)."""
    return byte_bpe_encode(df, merges, text_col, id_col).select(
        id_col, "n_bpe_tokens"
    )
