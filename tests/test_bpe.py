"""Byte-level BPE tokenizer (operators/bpe.py): hand-computable merge
sequences pin training exactly; encode round-trips; the distributed
apply equals the driver-side reference."""


class TestBytePretokenizer:
    """The hand-rolled GPT-2 pretokenizer scanner (r11): pinned
    equivalent to the PUBLISHED regex pattern (the `regex` module is
    available in this container, so the pin is direct), and lossless
    (concatenation of pretokens == input) for any text."""

    MIXED = [
        "Hello world", "it's a test", "don't", "'T was",
        "  two  spaces ", "tabs\there", "a\n b", "\t1", "num 42x7",
        "日本語のテキスト", "Thai: สวัสดี", "emoji 🎉 mix", "a'll'd",
        "price $3.50!", "", " ", "   ", "a ", " a", "²³ superscript",
        "under_score", "café naïve", "MiXeD CaSe", "1'2", "'s's",
        "x y", "end.", "...---...", "a\r\nb", "\n\n\n", "word'",
        "'", "''", "'sx", "'LL", "한국어 텍스트", "עברית ו العربية",
        "ー長音records", "٣٤٥ arabic digits",
    ]

    def test_matches_published_regex_on_fixture(self):
        import regex

        from datamancer_spark.operators.bpe import (
            GPT2_PRETOKEN_PATTERN,
            gpt2_pretokenize,
        )

        pat = regex.compile(GPT2_PRETOKEN_PATTERN)
        for t in self.MIXED:
            assert gpt2_pretokenize(t) == pat.findall(t), repr(t)

    def test_matches_published_regex_property(self):
        import regex
        from hypothesis import given, settings
        from hypothesis import strategies as st

        from datamancer_spark.operators.bpe import (
            GPT2_PRETOKEN_PATTERN,
            gpt2_pretokenize,
        )

        pat = regex.compile(GPT2_PRETOKEN_PATTERN)
        alphabet = (
            "ab zA'0９٣.,-¥日本สวั🎉_\t\n é²"
        )

        @settings(max_examples=300, deadline=None)
        @given(st.text(alphabet=alphabet, max_size=40))
        def check(t):
            assert gpt2_pretokenize(t) == pat.findall(t), repr(t)

        check()

    def test_lossless_property(self):
        from hypothesis import given, settings
        from hypothesis import strategies as st

        from datamancer_spark.operators.bpe import gpt2_pretokenize

        @settings(max_examples=300, deadline=None)
        @given(st.text(max_size=60))
        def check(t):
            assert "".join(gpt2_pretokenize(t)) == t

        check()


class TestByteBPE:
    def test_pinned_merge_sequence_mixed_script(self, spark):
        """Hand-computable byte-level training: corpus rows 'ab ab'
        pretokenize to {'ab'×3, ' ab'×3}; pair (a,b) counts 6 and wins
        round 1, then (Ġ,ab) counts 3 and wins round 2 (Ġ is the
        byte-table image of the space byte); nothing repeats after. A
        CJK row ('日本'×2) contributes UTF-8 byte pairs: each of the
        five adjacent byte pairs inside 日本 counts 2, so with merges
        exhausted on the ASCII side the lexicographically-least of
        those byte pairs merges next — pinned by computing it from the
        byte table directly."""
        from datamancer_spark.operators.bpe import (
            bytes_to_unicode,
            train_byte_bpe,
        )

        enc = bytes_to_unicode()
        G = enc[ord(" ")]
        df = spark.createDataFrame(
            [("ab ab",)] * 3 + [("日本",)] * 2, "text string"
        )
        merges = train_byte_bpe(df, num_merges=3, sample_rows=100)
        jp = [enc[b] for b in "日本".encode("utf-8")]
        candidates = sorted(zip(jp, jp[1:]))
        assert merges == [("a", "b"), (G, "ab"), candidates[0]]

    def test_no_oov_and_exact_roundtrip_unseen_script(self, spark):
        """The byte tier's whole point: a script NEVER seen in
        training still encodes (byte fallback — no OOV possible by
        construction) and decodes exactly, whitespace and case
        included."""
        from datamancer_spark.operators.bpe import (
            byte_bpe_decode_tokens,
            byte_bpe_encode_text,
            train_byte_bpe,
        )

        train = spark.createDataFrame(
            [("the cat sat on the mat",)] * 5, "text string"
        )
        ranks = {
            p: i
            for i, p in enumerate(train_byte_bpe(train, num_merges=20))
        }
        for t in [
            "สวัสดีครับ",          # Thai: no spaces at all
            "日本語 と 한국어",
            "MiXeD  CaSe\twith\nweird   spacing",
            "🎉🚀 emoji",
        ]:
            toks = byte_bpe_encode_text(t, ranks, {})
            assert toks, t
            assert byte_bpe_decode_tokens(toks) == t

    def test_roundtrip_property_any_unicode(self):
        """Hypothesis over FULL unicode text (not a curated alphabet):
        encode→decode is the identity for any merge table — merges
        only concatenate adjacent byte symbols, and the byte table is
        a bijection."""
        from hypothesis import given, settings
        from hypothesis import strategies as st

        from datamancer_spark.operators.bpe import (
            byte_bpe_decode_tokens,
            byte_bpe_encode_text,
        )

        ranks = {("t", "h"): 0, ("th", "e"): 1, ("1", "2"): 2}

        @settings(max_examples=300, deadline=None)
        @given(st.text(max_size=60))
        def check(t):
            assert (
                byte_bpe_decode_tokens(byte_bpe_encode_text(t, ranks, {}))
                == t
            )

        check()

    def test_distributed_matches_reference_and_counts(self, spark):
        from datamancer_spark.operators.bpe import (
            byte_bpe_encode,
            byte_bpe_encode_text,
            byte_bpe_exact_token_count,
            train_byte_bpe,
        )

        docs = spark.createDataFrame(
            [
                (i, f"doc {i % 4}: the quick brown fox — 日本語 text")
                for i in range(40)
            ],
            "doc_id long, text string",
        )
        merges = train_byte_bpe(docs, num_merges=40)
        assert len(merges) > 10
        out = {
            r["doc_id"]: r
            for r in byte_bpe_encode(docs, merges).collect()
        }
        ranks = {p: i for i, p in enumerate(merges)}
        memo: dict = {}
        for r in docs.collect():
            want = byte_bpe_encode_text(r["text"], ranks, memo)
            got = out[r["doc_id"]]
            assert list(got["bpe_tokens"]) == want
            assert got["n_bpe_tokens"] == len(want)
        counts = {
            r["doc_id"]: r["n_bpe_tokens"]
            for r in byte_bpe_exact_token_count(docs, merges).collect()
        }
        assert counts == {
            k: v["n_bpe_tokens"] for k, v in out.items()
        }

    def test_trainer_layout_independent(self, spark):
        from datamancer_spark.operators.bpe import train_byte_bpe

        docs = spark.createDataFrame(
            [(f"token{i % 7} word{i % 5} stem{i % 3}ing",)
             for i in range(200)],
            "text string",
        )
        a = train_byte_bpe(docs.coalesce(1), num_merges=25,
                           sample_rows=120)
        b = train_byte_bpe(docs.repartition(16), num_merges=25,
                           sample_rows=120)
        assert a == b and len(a) > 10

    def test_null_and_empty_text(self, spark):
        from datamancer_spark.operators.bpe import byte_bpe_encode

        docs = spark.createDataFrame(
            [(1, None), (2, "")], "doc_id long, text string"
        )
        out = {r["doc_id"]: r["n_bpe_tokens"]
               for r in byte_bpe_encode(docs, []).collect()}
        assert out == {1: 0, 2: 0}

