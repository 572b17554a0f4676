"""Property-based verb laws (hypothesis): algebraic identities that must
hold for any frame, not just golden fixtures. Small generated frames —
the laws, not the scale, are under test here."""

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from tests.conftest import rows_set

ROWS = st.lists(
    st.tuples(
        st.integers(min_value=-50, max_value=50),
        st.sampled_from(["a", "b", "c"]),
        st.floats(min_value=-100, max_value=100, allow_nan=False, width=32),
    ),
    min_size=1,
    max_size=12,
)

SETTINGS = settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


def _frame(spark, rows):
    from datamancer_spark import DamFrame

    return DamFrame(spark.createDataFrame(rows, ["x", "g", "v"]))


@given(rows=ROWS)
@SETTINGS
def test_filter_conjunction(spark, rows):
    d = _frame(spark, rows)
    lhs = d.filter(F.col("x") > 0).filter(F.col("v") > 0)
    rhs = d.filter((F.col("x") > 0) & (F.col("v") > 0))
    assert rows_set(lhs.df) == rows_set(rhs.df)


@given(rows=ROWS)
@SETTINGS
def test_set_diff_intersect_partition(spark, rows):
    """A = (A \\ B) ⊎ (A ∩ B) under multiset semantics."""
    d = _frame(spark, rows)
    b = d.filter(F.col("x") % 2 == 0)
    recombined = d.set_diff(b).bind_rows(d.intersect_rows(b))
    assert rows_set(recombined.df) == rows_set(d.df)


@given(rows=ROWS)
@SETTINGS
def test_gather_preserves_mass(spark, rows):
    d = _frame(spark, rows)
    long = d.gather(["x", "v"], key="k", value="val")
    assert long.count_rows() == 2 * d.count_rows()
    # sum is preserved per measure
    orig = d.df.agg(F.sum("x").alias("sx")).collect()[0]["sx"]
    melted = (
        long.df.filter(F.col("k") == "x").agg(F.sum("val").alias("s")).collect()[0]["s"]
    )
    assert abs((orig or 0) - (melted or 0)) < 1e-6


@given(rows=ROWS)
@SETTINGS
def test_summarize_count_equals_rows(spark, rows):
    d = _frame(spark, rows)
    per_group = d.group_by("g").summarize(n=F.count(F.lit(1)))
    total = sum(r["n"] for r in per_group.collect())
    assert total == d.count_rows()


@given(rows=ROWS)
@SETTINGS
def test_arrange_is_permutation(spark, rows):
    d = _frame(spark, rows)
    assert rows_set(d.arrange("x", "v").df) == rows_set(d.df)


@given(rows=ROWS)
@SETTINGS
def test_unique_idempotent(spark, rows):
    d = _frame(spark, rows)
    once = d.unique()
    twice = once.unique()
    assert rows_set(once.df) == rows_set(twice.df)


@given(rows=ROWS)
@SETTINGS
def test_semi_anti_partition(spark, rows):
    """semi(A,B) ⊎ anti(A,B) = A for any key set."""
    d = _frame(spark, rows)
    b = d.filter(F.col("v") > 0)
    semi = d.semi_join(b, by="x")
    anti = d.anti_join(b, by="x")
    assert rows_set(semi.bind_rows(anti).df) == rows_set(d.df)


GAPS = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=3),          # user id
        st.integers(min_value=0, max_value=10_000_000), # offset ms
    ),
    min_size=1,
    max_size=20,
)


@given(events=GAPS)
@SETTINGS
def test_sessionize_matches_python_reference(spark, events):
    """Session indices must equal a sequential single-machine reference
    (sorted per user, gap > threshold opens a session) for ANY event
    layout — including sub-second gaps and duplicate timestamps."""
    import datetime

    from datamancer_spark.operators.sessions import sessionize

    gap_s = 600
    base = datetime.datetime(2024, 1, 1)
    rows = [
        (uid, base + datetime.timedelta(milliseconds=ms), i)
        for i, (uid, ms) in enumerate(events)
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp, event_id long")
    got = {
        r["event_id"]: r["session_idx"]
        for r in sessionize(
            df, "ts", ["user_id"], gap_seconds=gap_s, order_by=["event_id"]
        ).collect()
    }

    expect = {}
    by_user: dict[int, list] = {}
    for uid, ts, eid in rows:
        by_user.setdefault(uid, []).append((ts, eid))
    for uid, evs in by_user.items():
        evs.sort()
        idx, prev = -1, None
        for ts, eid in evs:
            if prev is None or (ts - prev).total_seconds() > gap_s:
                idx += 1
            expect[eid] = idx
            prev = ts
    assert got == expect


# --- round-4 operator laws ---------------------------------------------------

TEXTS = st.lists(
    st.text(alphabet="ab c", min_size=0, max_size=40),
    min_size=1,
    max_size=8,
)


@given(texts=TEXTS, chunk=st.integers(2, 6), stride=st.integers(1, 6))
@SETTINGS
def test_chunk_documents_covers_every_token(spark, texts, chunk, stride):
    """Chunking laws for any doc set and window/stride: (1) chunk count
    matches the closed form; (2) concatenating chunk 0 and each chunk's
    tail beyond the overlap reconstructs the token stream exactly."""
    if stride > chunk:
        stride = chunk
    from datamancer_spark.operators.quality import chunk_documents

    rows = [(i, t) for i, t in enumerate(texts)]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    out = chunk_documents(d, chunk_tokens=chunk, stride=stride).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(r)
    for i, t in rows:
        toks = [w for w in t.lower().strip().split() if w]
        n = len(toks)
        expected = 1 + max(0, -(-(n - chunk) // stride)) if n > chunk else 1
        chunks = sorted(by_doc[i], key=lambda r: r["chunk_idx"])
        assert len(chunks) == expected
        # reconstruction: chunk k contributes tokens [k*stride+overlapped:]
        rebuilt = []
        for k, c in enumerate(chunks):
            ctoks = c["chunk_text"].split() if c["chunk_text"] else []
            skip = 0 if k == 0 else len(rebuilt) - k * stride
            rebuilt.extend(ctoks[skip:])
        assert rebuilt == toks


@given(
    weights=st.lists(st.floats(0.1, 100, allow_nan=False), min_size=1, max_size=20),
    k=st.integers(1, 8),
)
@SETTINGS
def test_weighted_sample_is_subset_of_size_min_k_n(spark, weights, k):
    from datamancer_spark.operators.sampling import weighted_sample

    rows = [(i, float(w)) for i, w in enumerate(weights)]
    d = spark.createDataFrame(rows, "doc_id long, w double")
    out = [r["doc_id"] for r in weighted_sample(d, "w", k).collect()]
    assert len(out) == min(k, len(rows))
    assert len(set(out)) == len(out)
    assert set(out) <= {i for i, _ in rows}


@given(
    pts=st.lists(st.integers(0, 500), min_size=1, max_size=15),
    ivs=st.lists(st.tuples(st.integers(0, 500), st.integers(0, 120)),
                 min_size=1, max_size=8),
    bucket=st.sampled_from([7, 60, 3600]),
)
@SETTINGS
def test_interval_join_matches_naive(spark, pts, ivs, bucket):
    """For any points/intervals and any bucket size, the binned
    equi-join must produce exactly the naive O(n*m) containment set."""
    from datetime import datetime, timedelta
    from datamancer_spark.operators.timeseries import interval_join

    base = datetime(2024, 1, 1)
    p_rows = [(i, base + timedelta(seconds=s)) for i, s in enumerate(pts)]
    iv_rows = [
        (j, base + timedelta(seconds=s), base + timedelta(seconds=s + d))
        for j, (s, d) in enumerate(ivs)
    ]
    pdf = spark.createDataFrame(p_rows, "pid long, ts timestamp")
    ivdf = spark.createDataFrame(iv_rows, "iid long, s timestamp, e timestamp")
    got = {(r["pid"], r["iid"]) for r in interval_join(
        pdf, ivdf, "ts", "s", "e", bucket_seconds=bucket).collect()}
    want = {
        (i, j)
        for i, t in p_rows
        for j, s, e in iv_rows
        if s <= t <= e
    }
    assert got == want


@given(
    texts=st.lists(
        st.lists(st.sampled_from(["a", "b", "c", "d", "e"]), max_size=7),
        min_size=2,
        max_size=8,
    ),
    n=st.integers(1, 3),
    threshold=st.sampled_from([0.2, 0.5, 0.8]),
    max_doc_freq=st.sampled_from([None, 2]),
)
@SETTINGS
def test_ngram_pair_joins_match_brute_force(
    spark, texts, n, threshold, max_doc_freq
):
    """For any small corpus, the posting-list joins return exactly the
    pairs a brute-force pass over every document pair finds, with the
    same values to 6 decimals — including with doc-frequency pruning
    (Jaccard over the pruned sets; containment over pruned overlaps and
    unpruned sizes)."""
    from collections import Counter

    from datamancer_spark.operators.dedup import (
        _shingle_hashes,
        ngram_containment_pairs,
        ngram_jaccard_pairs,
    )

    d = spark.createDataFrame(
        [(i, " ".join(t)) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    full = {
        r["doc_id"]: set(r["shs"])
        for r in _shingle_hashes(d, "text", "doc_id", n).collect()
    }
    dfreq = Counter(h for s in full.values() for h in s)
    kept = {
        i: {h for h in s if max_doc_freq is None or dfreq[h] <= max_doc_freq}
        for i, s in full.items()
    }
    want_j, want_c = {}, {}
    for i in full:
        for j in full:
            inter = len(kept[i] & kept[j])
            if i == j or inter == 0:
                continue
            if i < j:
                jac = inter / len(kept[i] | kept[j])
                if jac >= threshold:
                    want_j[(i, j)] = jac
            if inter / len(full[i]) >= threshold:
                want_c[(i, j)] = inter / len(full[i])
    got_j = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(
            d, shingle_n=n, threshold=threshold, max_doc_freq=max_doc_freq
        ).collect()
    }
    got_c = {
        (r["src_id"], r["dst_id"]): r["containment"]
        for r in ngram_containment_pairs(
            d, shingle_n=n, threshold=threshold, max_doc_freq=max_doc_freq
        ).collect()
    }
    assert got_j.keys() == want_j.keys()
    assert got_c.keys() == want_c.keys()
    for got, want in ((got_j, want_j), (got_c, want_c)):
        for k, v in want.items():
            assert got[k] == pytest.approx(v, abs=1e-6), k


class TestDecoderRoundtripProperties:
    """Property round-trips for the stdlib media decoders: any image the
    reference encoders can produce must decode bit-exactly — including
    1-pixel and single-row/column shapes."""

    @given(
        w=st.integers(1, 24),
        h=st.integers(1, 24),
        ctype=st.sampled_from([0, 2, 4, 6]),
        seed=st.integers(0, 2**31 - 1),
    )
    @settings(max_examples=30, deadline=None)
    def test_png_any_shape(self, w, h, ctype, seed):
        import numpy as np

        from datamancer_spark.operators.multimodal import png_decode_array
        from tests.test_multimodal import _encode_png

        nch = {0: 1, 2: 3, 4: 2, 6: 4}[ctype]
        rng = np.random.default_rng(seed)
        px = rng.integers(0, 256, size=(h, w, nch), dtype=np.uint8)
        filters = [int(rng.integers(0, 5)) for _ in range(h)]
        got = png_decode_array(_encode_png(px, ctype, filters=filters))
        assert got is not None
        gw, gh, gch, color = got
        assert (gw, gh, gch) == (w, h, nch)
        want = px[:, :, :-1] if ctype in (4, 6) else px  # alpha dropped
        assert np.array_equal(color, want)

    @given(
        w=st.integers(1, 16),
        h=st.integers(1, 16),
        ncolors=st.integers(2, 64),
        seed=st.integers(0, 2**31 - 1),
    )
    @settings(max_examples=30, deadline=None)
    def test_gif_any_shape(self, w, h, ncolors, seed):
        import numpy as np

        from datamancer_spark.operators.multimodal import gif_decode_frames
        from tests.test_multimodal import _encode_gif

        rng = np.random.default_rng(seed)
        pal = [tuple(int(x) for x in rng.integers(0, 256, 3)) for _ in range(ncolors)]
        idx = rng.integers(0, ncolors, size=(h, w), dtype=np.uint8)
        frames = list(gif_decode_frames(_encode_gif([idx.tobytes()], pal, w, h)))
        assert len(frames) == 1
        _, gw, gh, rgb = frames[0]
        assert (gw, gh) == (w, h)
        expect = np.array(pal, dtype=np.uint8)[idx.reshape(-1)].tobytes()
        assert rgb == expect

    @given(
        rate=st.sampled_from([8000, 16000, 44100]),
        bits=st.sampled_from([8, 16, 32]),
        channels=st.sampled_from([1, 2]),
        n=st.integers(8, 2000),
        seed=st.integers(0, 2**31 - 1),
    )
    @settings(max_examples=30, deadline=None)
    def test_wav_any_length(self, rate, bits, channels, n, seed):
        import struct

        import numpy as np

        from datamancer_spark.operators.multimodal import wav_decode_samples

        rng = np.random.default_rng(seed)
        if bits == 8:
            pcm = rng.integers(0, 256, n * channels, dtype=np.uint8)
        elif bits == 16:
            pcm = rng.integers(-32768, 32768, n * channels).astype(np.int16)
        else:
            pcm = rng.integers(-2**31, 2**31 - 1, n * channels).astype(np.int32)
        data = pcm.tobytes()
        width = bits // 8
        blob = (b"RIFF" + struct.pack("<I", 36 + len(data)) + b"WAVE"
                + b"fmt " + struct.pack("<IHHIIHH", 16, 1, channels, rate,
                                        rate * width * channels, width * channels, bits)
                + b"data" + struct.pack("<I", len(data)) + data)
        got = wav_decode_samples(blob)
        assert got is not None
        dur, grate, env = got
        assert grate == rate
        assert abs(dur - n / rate) < 1e-6
        assert len(env) == 8 and all(0.0 <= v <= 1.001 for v in env)


class TestPerceptualHashProperties:
    """Invariance laws of the r6 perceptual fingerprints — pure-python
    kernels, no Spark session needed."""

    @given(
        h=st.integers(8, 40),
        w=st.integers(9, 50),
        seed=st.integers(0, 10_000),
        gain=st.floats(0.05, 20.0),
        offset=st.floats(-50.0, 50.0),
    )
    @settings(max_examples=40, deadline=None)
    def test_dhash_affine_intensity_invariance(self, h, w, seed, gain, offset):
        """dHash compares adjacent cell means, so any positive-gain
        affine intensity map (brightness/contrast change) must leave
        the hash bit-identical."""
        import numpy as np

        from datamancer_spark.operators.multimodal import dhash64_gray

        rng = np.random.default_rng(seed)
        g = rng.uniform(0, 255, size=(h, w))
        assert dhash64_gray(g) == dhash64_gray(g * gain + offset)

    @given(h=st.integers(1, 7), w=st.integers(1, 8), seed=st.integers(0, 1000))
    @settings(max_examples=25, deadline=None)
    def test_dhash_tiny_images_never_crash(self, h, w, seed):
        import numpy as np

        from datamancer_spark.operators.multimodal import dhash64_gray

        rng = np.random.default_rng(seed)
        v = dhash64_gray(rng.uniform(0, 255, size=(h, w)))
        assert -(2**63) <= v < 2**63

    @given(
        n=st.integers(65, 4000),
        seed=st.integers(0, 10_000),
        gain=st.floats(0.01, 10.0),
    )
    @settings(max_examples=40, deadline=None)
    def test_audio_dhash_gain_invariance(self, n, seed, gain):
        """A global gain scales every frame energy equally and can never
        flip an energy comparison."""
        import numpy as np

        from datamancer_spark.operators.multimodal import audio_dhash64

        rng = np.random.default_rng(seed)
        x = rng.uniform(-1, 1, size=n)
        assert audio_dhash64(x) == audio_dhash64(x * gain)


TEXTS = st.lists(
    st.text(
        alphabet=st.characters(
            whitelist_categories=("Lu", "Ll", "Nd", "Zs"),
            whitelist_characters="@.-_() +",
            max_codepoint=0x2FF,
        ),
        max_size=80,
    ),
    min_size=1,
    max_size=8,
)


@given(texts=TEXTS)
@SETTINGS
def test_redact_pii_idempotent(spark, texts):
    """Redaction is a fixed point: placeholders contain no digits or
    '@', so a second pass over already-redacted text changes nothing
    and counts zero new spans — the property that makes re-running a
    scrub stage on partially-scrubbed data safe."""
    from datamancer_spark.operators.scrub import redact_pii

    df = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    once = redact_pii(df, text_col="text").select("doc_id", "text")
    twice = redact_pii(once, text_col="text")
    rows = twice.collect()
    assert {(r["doc_id"], r["text"]) for r in rows} == {
        (r["doc_id"], r["text"]) for r in once.collect()
    }
    for r in rows:
        assert r["n_email"] == 0 and r["n_phone"] == 0
        assert r["n_ssn"] == 0 and r["n_ccn"] == 0 and r["n_ipv4"] == 0


HOSTS = st.lists(
    st.one_of(
        # label.label(.label)* hosts from a small alphabet
        st.lists(
            st.text(alphabet="abcXYZ09", min_size=1, max_size=6),
            min_size=1,
            max_size=5,
        ).map(".".join),
        st.just("a.co.uk"),
        st.just("x.y.com.au"),
        st.just("10.0.0.1"),
    ),
    min_size=1,
    max_size=10,
)


@given(hosts=HOSTS)
@SETTINGS
def test_registrable_domain_invariants(spark, hosts):
    """For any host: the registrable domain is a dot-suffix of the
    lowercased host, has at most 3 labels (embedded-PSL rule depth),
    and the map is idempotent (a registrable domain maps to itself)."""
    from datamancer_spark.operators.scrub import registrable_domain

    df = spark.createDataFrame(
        list(enumerate(hosts)), "k long, host string"
    )
    got = {
        r["k"]: r["d"]
        for r in df.select(
            "k", registrable_domain(F.col("host")).alias("d")
        ).collect()
    }
    for k, host in enumerate(hosts):
        d = got[k]
        low = host.lower()
        assert low.endswith(d)
        assert d == low or low[-len(d) - 1] == "."
        assert d.count(".") <= max(low.count("."), 2)
    # idempotence: re-extracting from the extracted domain is a no-op
    df2 = spark.createDataFrame(
        [(k, d) for k, d in got.items()], "k long, host string"
    )
    again = {
        r["k"]: r["d"]
        for r in df2.select(
            "k", registrable_domain(F.col("host")).alias("d")
        ).collect()
    }
    assert again == got


# -- r14 property laws: manifest signatures + mojibake repair ----------------

TEXTS = st.lists(
    st.one_of(
        st.none(),
        st.text(
            alphabet=st.characters(
                codec="utf-8", exclude_characters="\x00"
            ),
            max_size=20,
        ),
    ),
    min_size=1,
    max_size=8,
)


@given(texts=TEXTS)
@SETTINGS
def test_manifest_invariant_under_permutation_and_partitioning(
    spark, texts
):
    """shard_manifest's defining law: the manifest is a function of the
    row MULTISET — any reordering/repartitioning of the same rows gives
    the identical manifest (random texts incl. NULLs, separators,
    unicode)."""
    from datamancer_spark.operators.manifest import shard_manifest

    rows = [(i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    base = rows_set(shard_manifest(df, "doc_id", ["text"], n_shards=4))
    jumbled = spark.createDataFrame(
        list(reversed(rows)), "doc_id long, text string"
    ).repartition(3)
    assert (
        rows_set(shard_manifest(jumbled, "doc_id", ["text"], n_shards=4))
        == base
    )


@given(texts=TEXTS)
@SETTINGS
def test_manifest_detects_any_single_cell_change(spark, texts):
    """Flipping one cell's content must change its shard's signature
    (append a char — works for NULL→'X' too via the type tag)."""
    from datamancer_spark.operators.manifest import (
        manifest_diff,
        shard_manifest,
    )

    rows = [(i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    mutated = df.withColumn(
        "text",
        F.when(
            F.col("doc_id") == 0,
            F.concat(F.coalesce(F.col("text"), F.lit("")), F.lit("X")),
        ).otherwise(F.col("text")),
    )
    a = shard_manifest(df, "doc_id", ["text"], n_shards=4)
    b = shard_manifest(mutated, "doc_id", ["text"], n_shards=4)
    changed = (
        manifest_diff(a, b).filter(F.col("status") == "changed").count()
    )
    assert changed == 1


def test_row_signature_separator_injection(spark):
    """("a\\x1fb") must not collide with ("a","b") — the type-prefix
    tag breaks the separator-injection ambiguity plain joins have."""
    from datamancer_spark.operators.manifest import row_signature

    one = spark.createDataFrame(
        [("a\x1fb",)], "x string"
    ).select(row_signature(F.col("x")).alias("s"))
    two = spark.createDataFrame([("a", "b")], "x string, y string").select(
        row_signature(F.col("x"), F.col("y")).alias("s")
    )
    assert one.first()["s"] != two.first()["s"]


MOJI_TEXTS = st.lists(
    st.text(
        alphabet=st.characters(codec="utf-8", exclude_characters="\x00"),
        max_size=30,
    ),
    min_size=1,
    max_size=6,
)


@given(texts=MOJI_TEXTS)
@SETTINGS
def test_fix_mojibake_converges_to_clean_fixpoint(spark, texts):
    """The TRUE repair law (fix∘fix == fix is false by design: fixing
    the outer layer of juxtaposed mojibake like 'Â'+'Â°' exposes an
    inner broken form): every replacement maps ≥2 chars to 1, so
    iterating fix_mojibake strictly shrinks the text and reaches a
    fixpoint — and at the fixpoint the detector is CLEAN (a remaining
    broken form would have been replaced)."""
    from datamancer_spark.operators.scrub import (
        fix_mojibake,
        mojibake_hits,
    )

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "id long, text string"
    )
    cur = df.select("id", F.col("text").alias("t"))
    for _ in range(max(len(t or "") for t in texts) + 1):
        nxt = cur.select("id", fix_mojibake(F.col("t")).alias("t"))
        if rows_set(nxt) == rows_set(cur):
            break
        cur = nxt
    residual = (
        cur.select(mojibake_hits(F.col("t")).alias("h"))
        .agg(F.sum("h"))
        .first()[0]
    )
    assert residual == 0


@given(texts=MOJI_TEXTS)
@SETTINGS
def test_mojibake_repair_never_increases_hits(spark, texts):
    """Monotone repair law: the detector count after fix_mojibake is
    <= before, on any input (repair can only remove artifacts)."""
    from datamancer_spark.operators.scrub import (
        fix_mojibake,
        mojibake_hits,
    )

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "id long, text string"
    )
    bad = df.select(
        mojibake_hits(F.col("text")).alias("before"),
        mojibake_hits(fix_mojibake(F.col("text"))).alias("after"),
    ).filter(F.col("after") > F.col("before"))
    assert bad.count() == 0
