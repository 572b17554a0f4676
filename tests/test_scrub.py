"""PII redaction + URL hygiene (operators/scrub.py).

The synthetic corpus has no PII/URLs, so these tests craft inputs and
pin exact redaction/normalization behavior (precision-over-recall
patterns, replacement ordering, count audit columns)."""

from __future__ import annotations

from pyspark.sql import functions as F

from datamancer_spark.operators.scrub import (
    normalize_url,
    redact_pii,
    url_quality_filter,
)


def one(df):
    rows = df.collect()
    assert len(rows) == 1
    return rows[0].asDict()


class TestRedactPii:
    def test_email_and_counts(self, spark):
        df = spark.createDataFrame(
            [(1, "mail a@b.com and c.d+x@e.org now")], "doc_id long, text string"
        )
        r = one(redact_pii(df))
        assert r["text"] == "mail <EMAIL> and <EMAIL> now"
        assert r["n_email"] == 2 and r["n_phone"] == 0

    def test_ssn_beats_phone(self, spark):
        # dashed SSN shape must tag as <SSN>, not get eaten by the
        # greedier phone pattern (dict ordering pins this)
        df = spark.createDataFrame(
            [(1, "ssn 123-45-6789 ok")], "doc_id long, text string"
        )
        r = one(redact_pii(df))
        assert r["text"] == "ssn <SSN> ok"
        assert r["n_ssn"] == 1

    def test_phone_and_ipv4(self, spark):
        df = spark.createDataFrame(
            [(1, "call +1 (555) 123-4567 from 10.0.0.1")],
            "doc_id long, text string",
        )
        r = one(redact_pii(df))
        assert "<PHONE>" in r["text"] and "<IP>" in r["text"]
        assert r["n_phone"] == 1 and r["n_ipv4"] == 1

    def test_ccn(self, spark):
        df = spark.createDataFrame(
            [(1, "pan 4111 1111 1111 1111 end")], "doc_id long, text string"
        )
        r = one(redact_pii(df))
        assert r["text"] == "pan <CCN> end"

    def test_clean_text_untouched(self, spark):
        txt = "no pii here, just words and 42 numbers"
        df = spark.createDataFrame([(1, txt)], "doc_id long, text string")
        r = one(redact_pii(df))
        assert r["text"] == txt
        assert r["n_email"] == r["n_phone"] == r["n_ipv4"] == 0

    def test_out_col_preserves_original(self, spark):
        df = spark.createDataFrame(
            [(1, "x a@b.com y")], "doc_id long, text string"
        )
        r = one(redact_pii(df, out_col="clean"))
        assert r["text"] == "x a@b.com y" and r["clean"] == "x <EMAIL> y"

    def test_no_python_in_plan(self, spark):
        df = spark.createDataFrame([(1, "t")], "doc_id long, text string")
        plan = redact_pii(df)._jdf.queryExecution().executedPlan().toString()
        assert "Python" not in plan and "Arrow" not in plan


class TestUrls:
    def test_normalize(self, spark):
        cases = [
            ("https://EX.com/Path#frag", "https://ex.com/Path"),
            ("https://ex.com/p?utm_source=x&id=7", "https://ex.com/p?id=7"),
            ("https://ex.com/p?id=7&gclid=abc", "https://ex.com/p?id=7"),
            ("https://ex.com/p?utm_campaign=x", "https://ex.com/p"),
            ("https://ex.com/", "https://ex.com"),
            ("https://ex.com/a/b", "https://ex.com/a/b"),
        ]
        df = spark.createDataFrame(cases, "url string, want string")
        out = df.select(normalize_url(F.col("url")).alias("got"), "want")
        for r in out.collect():
            assert r["got"] == r["want"], (r["got"], r["want"])



class TestAdviceR3Fixes:
    def test_prose_digit_runs_not_merged_as_phone(self, spark):
        # ADVICE r3: "years 2010 2011 2012" used to redact as ONE <PHONE>
        txt = "in the years 2010 2011 2012 revenue grew"
        df = spark.createDataFrame([(1, txt)], "doc_id long, text string")
        r = one(redact_pii(df))
        assert r["text"] == txt and r["n_phone"] == 0

    def test_long_numeric_id_not_partially_eaten(self, spark):
        # 11 digits: longer than any phone shape, shorter than the
        # 13-digit CCN floor (a 13-16 digit bare run IS pan-shaped and
        # deliberately stays redactable as <CCN>)
        txt = "order 20112012201 confirmed"
        df = spark.createDataFrame([(1, txt)], "doc_id long, text string")
        r = one(redact_pii(df))
        assert r["text"] == txt and r["n_phone"] == 0

    def test_dashed_and_dotted_phones_still_redact(self, spark):
        df = spark.createDataFrame(
            [(1, "a 212-555-1234 b 212.555.1234 c (212) 555-1234 d")],
            "doc_id long, text string",
        )
        r = one(redact_pii(df))
        assert r["n_phone"] == 3 and "212" not in r["text"]

    def test_r12_canonicalization_arms(self, spark):
        """r12: case-insensitive scheme/host, default-port strip,
        dot-segment resolution, deep trailing slash preserved,
        non-http pass-through."""
        cases = [
            ("HTTP://EX.com/a", "http://ex.com/a"),
            ("https://Ex.COM:443/a", "https://ex.com/a"),
            ("http://ex.com:80/a?id=1", "http://ex.com/a?id=1"),
            ("http://ex.com:8080/a", "http://ex.com:8080/a"),  # real port
            ("https://ex.com/a/b/../c/./d", "https://ex.com/a/c/d"),
            ("https://ex.com/../a", "https://ex.com/a"),  # pop at root
            ("https://ex.com/a//b", "https://ex.com/a//b"),  # '//' kept
            ("https://ex.com/a/b/", "https://ex.com/a/b/"),  # deep slash
            ("https://ex.com/a/..", "https://ex.com"),  # root collapse
            ("ftp://ex.com/a", "ftp://ex.com/a"),  # pass-through
        ]
        df = spark.createDataFrame(cases, "url string, want string")
        out = df.select(normalize_url(F.col("url")).alias("got"), "want")
        for r in out.collect():
            assert r["got"] == r["want"], (r["got"], r["want"])

    def test_dot_segment_fold_is_jvm_side(self, spark):
        from datamancer_spark.operators.scrub import resolve_dot_segments

        df = spark.createDataFrame([("/a/b/../c",)], "p string")
        out = df.select(resolve_dot_segments(F.col("p")).alias("got"))
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "Python" not in plan and "Arrow" not in plan
        assert out.collect()[0]["got"] == "/a/c"

    def test_path_ampersand_with_leading_tracking_param(self, spark):
        # ADVICE r3: scrub+re-anchor used to yield "https://x.com/a?b"
        cases = [
            ("https://x.com/a&b?utm_x=1", "https://x.com/a&b"),
            ("https://x.com/a&b?utm_x=1&id=7", "https://x.com/a&b?id=7"),
            ("https://x.com/a&b", "https://x.com/a&b"),
            ("https://x.com/p?utm_a=1&utm_b=2&id=3", "https://x.com/p?id=3"),
        ]
        df = spark.createDataFrame(cases, "url string, want string")
        out = df.select(normalize_url(F.col("url")).alias("got"), "want")
        for r in out.collect():
            assert r["got"] == r["want"], (r["got"], r["want"])


class TestUrlQualityFilter:
    """r10: the URL-level page gate (C4/RefinedWeb-style) — every rule
    fires independently, reasons serialize in rule order, clean URLs
    pass with an empty reason string."""

    CASES = [
        ("http://ok.example/a/b?id=1", True, ""),
        ("ftp://files.example/x", False, "bad_scheme"),
        ("http://bad.example/page", False, "blocked_host"),
        ("http://ok.example/spam/offer", False, "blocked_term"),
        ("http://ok.example/a?ref=casino", False, "blocked_term"),
        # depth: 9 path segments > max_path_depth=8
        ("http://ok.example/1/2/3/4/5/6/7/8/9", False, "too_deep"),
        ("http://ok.example/1/2/3/4/5/6/7/8", True, ""),
        # 9 query params > max_query_params=8
        (
            "http://ok.example/p?" + "&".join(f"k{i}=1" for i in range(9)),
            False,
            "param_stuffed",
        ),
        ("http://ok.example/p?" + "&".join(f"k{i}=1" for i in range(8)),
         True, ""),
        # multiple rules serialize in declaration order
        ("http://bad.example/spam/x", False, "blocked_host,blocked_term"),
        # no query, no path: clean
        ("https://ok.example", True, ""),
    ]

    def test_rules(self, spark):
        df = spark.createDataFrame(
            [(i, u) for i, (u, _, _) in enumerate(self.CASES)],
            "i long, url string",
        )
        out = {
            r["i"]: (r["url_pass"], r["url_reasons"])
            for r in url_quality_filter(
                df, blocked_hosts=["bad.example"]
            ).collect()
        }
        for i, (u, want_pass, want_reasons) in enumerate(self.CASES):
            assert out[i] == (want_pass, want_reasons), (u, out[i])

    def test_no_blocklist_means_host_rule_off(self, spark):
        df = spark.createDataFrame(
            [(1, "http://anything.example/x")], "i long, url string"
        )
        r = url_quality_filter(df).collect()[0]
        assert r["url_pass"] is True

    def test_stays_in_codegen(self, spark):
        df = spark.createDataFrame(
            [(1, "http://a.example/x")], "i long, url string"
        )
        plan = (
            url_quality_filter(df, blocked_hosts=["b.example"])
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "BatchEvalPython" not in plan
        assert "ArrowEvalPython" not in plan

    def test_blocklist_dataframe_scale_path(self, spark):
        """blocked_hosts_df joins on the extracted host (the 100M-entry
        path); composes with the literal list, case-insensitive."""
        df = spark.createDataFrame(
            [
                (1, "http://evil.example/x"),
                (2, "http://fine.example/x"),
                (3, "http://ALSO-bad.example/x"),
            ],
            "i long, url string",
        )
        bl = spark.createDataFrame(
            [("EVIL.example",), ("also-bad.example",)], "host string"
        )
        out = {
            r["i"]: (r["url_pass"], r["url_reasons"])
            for r in url_quality_filter(df, blocked_hosts_df=bl).collect()
        }
        assert out[1] == (False, "blocked_host")
        assert out[2] == (True, "")
        assert out[3] == (False, "blocked_host")
        # composes with the literal list
        out2 = {
            r["i"]: r["url_pass"]
            for r in url_quality_filter(
                df, blocked_hosts=["fine.example"], blocked_hosts_df=bl
            ).collect()
        }
        assert out2 == {1: False, 2: False, 3: False}
        # internal join columns never leak
        cols = url_quality_filter(df, blocked_hosts_df=bl).columns
        assert set(cols) == {"i", "url", "url_reasons", "url_pass"}

    def test_null_url_fails_and_terms_are_literal(self, spark):
        df = spark.createDataFrame(
            [(1, None), (2, "http://ok.example/c++tutorial")],
            "i long, url string",
        )
        out = {
            r["i"]: (r["url_pass"], r["url_reasons"])
            for r in url_quality_filter(
                df, blocked_path_terms=("c++",)
            ).collect()
        }
        # NULL url fails loudly instead of null-propagating to a pass
        assert out[1] == (False, "bad_scheme")
        # "c++" matches literally (unescaped it would be a bad regex /
        # match any "c")
        assert out[2] == (False, "blocked_term")
        ok = spark.createDataFrame(
            [(3, "http://ok.example/chapter")], "i long, url string"
        )
        r = url_quality_filter(ok, blocked_path_terms=("c++",)).collect()[0]
        assert r["url_pass"] is True


class TestUnicodeNormalize:
    """functions.text.unicode_normalize (r11): the pre-dedup
    canonicalization — decomposed/precomposed variants must fingerprint
    identically after NFC."""

    def test_nfc_composes_and_dedups(self, spark):
        from datamancer_spark.functions.text import unicode_normalize
        from pyspark.sql import functions as F

        pre = "caf\xe9 \xe5ngstr\xf6m"
        dec = "cafe\u0301 a\u030angstro\u0308m"
        assert pre != dec  # genuinely different byte streams
        df = spark.createDataFrame(
            [(1, pre), (2, dec), (3, None)], "i long, t string"
        )
        out = {
            r["i"]: r["n"]
            for r in df.select(
                "i", unicode_normalize(F.col("t")).alias("n")
            ).collect()
        }
        # both variants normalize to the same (precomposed) string,
        # so a post-NFC fingerprint dedups them; NULL passes through
        assert out[1] == out[2] == pre
        assert out[3] is None

    def test_nfkc_folds_compat_chars(self, spark):
        from datamancer_spark.functions.text import unicode_normalize
        from pyspark.sql import functions as F

        df = spark.createDataFrame(
            [(1, "ﬃce ①")], "i long, t string"  # ﬃ + ①
        )
        nfc = df.select(unicode_normalize(F.col("t"), "NFC").alias("n"))
        nfkc = df.select(
            unicode_normalize(F.col("t"), "NFKC").alias("n")
        )
        # NFC leaves compatibility chars alone; NFKC folds them
        assert nfc.collect()[0]["n"] == "ﬃce ①"
        assert nfkc.collect()[0]["n"] == "ffice 1"

    def test_idempotent_and_bad_form_rejected(self, spark):
        import pytest as _pt

        from datamancer_spark.functions.text import unicode_normalize
        from pyspark.sql import functions as F

        df = spark.createDataFrame(
            [(i, f"plain ascii {i} café") for i in range(20)],
            "i long, t string",
        )
        once = df.select("i", unicode_normalize(F.col("t")).alias("n"))
        twice = once.select(
            "i", unicode_normalize(F.col("n")).alias("n")
        )
        assert sorted(map(tuple, once.collect())) == sorted(
            map(tuple, twice.collect())
        )
        with _pt.raises(ValueError):
            unicode_normalize(F.col("t"), "NFX")


def test_script_counts_and_dominant(spark):
    """r12 script profiling: length-difference counts per explicit
    range; dominant = max count with alphabetical tie-break, 'none'
    for no-script text."""
    from datamancer_spark.functions.text import (
        dominant_script,
        script_counts,
    )

    rows = [
        (1, "hello world"),                       # latin only
        (2, "中文 latin 中"),         # han 3, latin 5
        (3, "カナカナ"),          # kana 4
        (4, "ab бв"),                   # latin 2 cyrillic 2 tie
        (5, "1234 !?"),                           # none
        (6, None),
    ]
    df = spark.createDataFrame(rows, "k long, text string")
    counts = script_counts(F.col("text"))
    out = df.select(
        "k",
        counts["latin"].alias("lat"),
        counts["han"].alias("han"),
        counts["kana"].alias("kana"),
        counts["cyrillic"].alias("cyr"),
        dominant_script(F.col("text")).alias("dom"),
    ).collect()
    got = {r["k"]: (r["lat"], r["han"], r["kana"], r["cyr"], r["dom"])
           for r in out}
    assert got[1] == (10, 0, 0, 0, "latin")
    assert got[2] == (5, 3, 0, 0, "latin")
    assert got[3] == (0, 0, 4, 0, "kana")
    assert got[4] == (2, 0, 0, 2, "cyrillic")  # alphabetical tie-break
    assert got[5] == (0, 0, 0, 0, "none")
    assert got[6] == (None, None, None, None, None)


def test_registrable_domain_etld_plus_one(spark):
    from datamancer_spark.operators.scrub import registrable_domain

    rows = [
        (1, "www.bbc.co.uk"),        # multi-label suffix -> last 3
        (2, "news.bbc.co.uk"),       # same registrant, other subdomain
        (3, "a.co.uk"),              # bare registrant on multi suffix
        (4, "b.co.uk"),              # distinct registrant, same suffix
        (5, "deep.cdn.eu.shop.com.au"),  # long chain -> shop.com.au
        (6, "news.example.com"),     # plain TLD -> last 2
        (7, "example.com"),          # already registrable
        (8, "localhost"),            # single label passes through
        (9, "10.0.5.1"),             # IPv4 literal passes through
        (10, "WWW.Example.COM"),     # case-folds
        (11, None),                  # NULL -> empty
        (12, ""),                    # empty stays empty
    ]
    df = spark.createDataFrame(rows, "k long, host string")
    got = {
        r["k"]: r["d"]
        for r in df.select(
            "k", registrable_domain(F.col("host")).alias("d")
        ).collect()
    }
    assert got[1] == "bbc.co.uk" and got[2] == "bbc.co.uk"
    assert got[3] == "a.co.uk" and got[4] == "b.co.uk"
    assert got[5] == "shop.com.au"
    assert got[6] == "example.com" and got[7] == "example.com"
    assert got[8] == "localhost"
    assert got[9] == "10.0.5.1"
    assert got[10] == "example.com"
    assert got[11] == "" and got[12] == ""


class TestMojibake:
    def test_map_derivation_round_trips(self):
        """Every (broken, fixed) pair must satisfy the defining
        property: fixed.encode('utf-8') read as windows-1252 (C1
        fallback) IS broken."""
        from datamancer_spark.operators.scrub import (
            MOJIBAKE_MAP,
            _cp1252ish,
        )

        for broken, fixed in MOJIBAKE_MAP:
            assert _cp1252ish(fixed.encode("utf-8")) == broken

    def test_hits_and_fix(self, spark):
        from datamancer_spark.operators.scrub import (
            MOJIBAKE_MAP,
            fix_mojibake,
            mojibake_hits,
        )
        from pyspark.sql import functions as F

        b = {f: k for k, f in MOJIBAKE_MAP}
        rows = [
            (1, "Caf" + b["é"] + " cr" + b["è"] + "me"),  # 2 artifacts
            (2, "it" + b["’"] + "s fine"),                 # 1 artifact
            (3, "plain ascii"),                            # clean
            (4, None),                                     # NULL-safe
        ]
        df = spark.createDataFrame(rows, "id long, text string")
        got = {
            r["id"]: (r["h"], r["fixed"])
            for r in df.select(
                "id",
                mojibake_hits(F.col("text")).alias("h"),
                fix_mojibake(F.col("text")).alias("fixed"),
            ).collect()
        }
        assert got[1] == (2, "Café crème")
        assert got[2] == (1, "it’s fine")
        assert got[3] == (0, "plain ascii")
        assert got[4][0] == 0 and got[4][1] is None

    def test_fix_clears_detector_on_every_mapped_form(self, spark):
        from datamancer_spark.operators.scrub import (
            MOJIBAKE_MAP,
            fix_mojibake,
            mojibake_hits,
        )
        from pyspark.sql import functions as F

        rows = [(i, f"x{b}y") for i, (b, _) in enumerate(MOJIBAKE_MAP)]
        df = spark.createDataFrame(rows, "id long, text string")
        residual = df.select(
            mojibake_hits(fix_mojibake(F.col("text"))).alias("r")
        ).agg(F.sum("r")).first()[0]
        assert residual == 0

