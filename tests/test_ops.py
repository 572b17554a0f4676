"""Tests for the beyond-reference operators: text analysis, dedup,
similarity — semantic checks on controlled inputs."""

import pytest
from pyspark.sql import functions as F

from tests.conftest import rows_set


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, "the quick brown fox jumps over the lazy dog"),
        (1, "the quick brown fox jumps over the lazy dog"),          # exact dup of 0
        (2, "the quick brown fox jumped over the lazy dog"),         # near dup
        (3, "completely different content about spark engines"),
        (4, "der hund und die katze ist das haus"),                  # de markers
        (5, ""),
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_token_count(spark, docs):
    from datamancer_spark.functions.text import token_count

    out = {
        r["doc_id"]: r["n"]
        for r in docs.select("doc_id", token_count(F.col("text")).alias("n")).collect()
    }
    assert out[0] == 9 and out[3] == 6 and out[5] == 0


def test_fingerprint_whitespace_case_invariant(spark):
    from datamancer_spark.functions.text import fingerprint

    d = spark.createDataFrame(
        [(1, "Hello  World"), (2, "hello world"), (3, "other")], ["id", "t"]
    )
    fps = [r["fp"] for r in d.select(fingerprint(F.col("t")).alias("fp")).collect()]
    assert fps[0] == fps[1] and fps[0] != fps[2]


def test_exact_dedup(spark, docs):
    from datamancer_spark.operators.dedup import exact_dedup, exact_dedup_keep

    agg = exact_dedup(docs)
    dup_group = [r for r in agg.collect() if r["n_dups"] == 2]
    assert len(dup_group) == 1 and dup_group[0]["keep_id"] == 0
    kept = exact_dedup_keep(docs)
    ids = sorted(r["doc_id"] for r in kept.collect())
    assert ids == [0, 2, 3, 4, 5]


def test_minhash_finds_near_dup(spark, docs):
    from datamancer_spark.operators.dedup import minhash_lsh_pairs

    pairs = {
        (r["id_a"], r["id_b"])
        for r in minhash_lsh_pairs(docs.filter(F.col("text") != "")).collect()
    }
    assert (0, 1) in pairs          # exact dup always collides
    assert not any(3 in p for p in pairs)  # unrelated doc never pairs


def test_jaccard_exact_values(spark):
    from datamancer_spark.operators.dedup import ngram_jaccard_pairs

    d = spark.createDataFrame(
        [(1, "a b c d"), (2, "a b c d"), (3, "x y z w")], ["doc_id", "text"]
    )
    out = {(r["id_a"], r["id_b"]): r["jaccard"] for r in ngram_jaccard_pairs(d).collect()}
    assert out == {(1, 2): 1.0}


def test_simhash_identical_and_near(spark, docs):
    from datamancer_spark.operators.dedup import simhash_pairs

    # bands=16 (4-bit blocks): pigeonhole guarantees any pair with
    # hamming <= 15 shares a block, so candidate generation can't miss
    pairs = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in simhash_pairs(
            docs.filter(F.col("text") != ""), max_hamming=10, bands=16
        ).collect()
    }
    assert pairs.get((0, 1)) == 0   # identical text → distance 0
    assert (0, 2) in pairs          # near dup (measured hamming 8)
    assert (0, 3) not in pairs      # unrelated (hamming 27) filtered


def test_vector_functions(spark):
    from datamancer_spark.functions.vector import cosine, dot, norm

    d = spark.createDataFrame(
        [(1, [3.0, 4.0], [3.0, 4.0]), (2, [1.0, 0.0], [0.0, 1.0])],
        ["id", "a", "b"],
    )
    rows = {
        r["id"]: r
        for r in d.select(
            "id",
            dot(F.col("a"), F.col("b")).alias("d"),
            norm(F.col("a")).alias("n"),
            cosine(F.col("a"), F.col("b")).alias("c"),
        ).collect()
    }
    assert rows[1]["d"] == 25.0 and rows[1]["n"] == 5.0 and rows[1]["c"] == 1.0
    assert rows[2]["d"] == 0.0 and rows[2]["c"] == 0.0


def test_knn_bruteforce_self_excluded_and_ranked(spark):
    from datamancer_spark.operators.similarity import knn_bruteforce

    vecs = [
        (0, [1.0, 0.0]),
        (1, [0.9, 0.1]),
        (2, [0.0, 1.0]),
        (3, [1.0, 0.05]),
    ]
    d = spark.createDataFrame(vecs, ["vec_id", "embedding"])
    out = knn_bruteforce(d, d.filter(F.col("vec_id") == 0), k=2)
    got = [(r["neighbor_id"], r["rank"]) for r in out.orderBy("rank").collect()]
    assert got == [(3, 1), (1, 2)]


def test_knn_lsh_subset_of_brute(spark, sf_dir):
    from datamancer_spark.operators.similarity import knn_bruteforce, knn_lsh

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 3)
    brute = knn_bruteforce(emb, q, k=50)
    approx = knn_lsh(emb, q, k=50, num_planes=2)
    bset = {(r["query_id"], r["neighbor_id"]) for r in brute.collect()}
    aset = {(r["query_id"], r["neighbor_id"]) for r in approx.collect()}
    # LSH returns a subset of candidates; overlap with exact top-50 must be
    # substantial at 2 planes (bucket ~ 1/4 of corpus)
    assert len(aset) > 0
    assert len(aset & bset) / max(len(aset), 1) > 0.2


def test_minhash_verified_composition(spark, docs):
    """Verified pairs are a subset of LSH candidates AND meet the exact
    jaccard threshold."""
    from datamancer_spark.operators.dedup import (
        minhash_dedup_verified,
        minhash_lsh_pairs,
        ngram_jaccard_pairs,
    )
    from pyspark.sql import functions as F

    d = docs.filter(F.col("text") != "")
    verified = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in minhash_dedup_verified(d, threshold=0.4).collect()
    }
    cands = {(r["id_a"], r["id_b"]) for r in minhash_lsh_pairs(d).collect()}
    exact = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(d, threshold=0.4).collect()
    }
    assert set(verified) <= cands
    assert all(j >= 0.4 for j in verified.values())
    # the exact-dup pair must survive the full composition
    assert (0, 1) in verified and verified[(0, 1)] == 1.0
    # and every verified value agrees with the standalone exact operator
    for pair, j in verified.items():
        assert exact[pair] == j


def test_jaccard_doc_freq_pruning(spark, docs):
    from datamancer_spark.operators.dedup import ngram_jaccard_pairs
    from pyspark.sql import functions as F

    d = docs.filter(F.col("text") != "")
    full = ngram_jaccard_pairs(d, threshold=0.1)
    pruned = ngram_jaccard_pairs(d, threshold=0.1, max_doc_freq=1)
    # pruning only removes candidate mass, never adds
    assert pruned.count() <= full.count()


def test_tfidf_semantics(spark):
    """A term appearing in every doc gets minimal idf; a unique term
    dominates its doc's ranking."""
    from datamancer_spark.operators.tfidf import bm25, tfidf

    # equal tf per term, so the idf difference decides the ranking
    d = spark.createDataFrame(
        [
            (1, "common unique1"),
            (2, "common unique2"),
            (3, "common filler words"),
        ],
        ["doc_id", "text"],
    )
    top = tfidf(d, top_k=1)
    best = {r["doc_id"]: r["term"] for r in top.collect()}
    assert best[1] == "unique1" and best[2] == "unique2"
    # bm25: unique term outranks the ubiquitous one within a doc
    scores = {
        (r["doc_id"], r["term"]): r["bm25"] for r in bm25(d).collect()
    }
    assert scores[(1, "unique1")] > scores[(1, "common")]


def test_bpe_token_count(spark):
    from datamancer_spark.functions.text import bpe_token_count

    d = spark.createDataFrame(
        [(1, "hello world42!"), (2, "a,b"), (3, "")], ["id", "t"]
    )
    out = {r["id"]: r["n"] for r in d.select("id", bpe_token_count(F.col("t")).alias("n")).collect()}
    # hello | world | 42 | !  -> 4 ;  a | , | b -> 3 ; "" -> 0
    assert out == {1: 4, 2: 3, 3: 0}


def test_dedup_against_incremental(spark):
    from datamancer_spark.operators.dedup import dedup_against

    seen = spark.createDataFrame(
        [(1, "old doc one"), (2, "old doc two")], "doc_id long, text string"
    )
    new = spark.createDataFrame(
        [
            (10, "old doc one"),      # already in history -> dropped
            (11, "OLD  DOC  TWO"),    # fingerprint-equal to history -> dropped
            (12, "fresh doc"),        # genuinely new -> kept
            (13, "fresh doc"),        # intra-snapshot dup -> self-dedup keeps 12
            (14, "another fresh"),
        ],
        "doc_id long, text string",
    )
    ids = sorted(r["doc_id"] for r in dedup_against(new, seen).collect())
    assert ids == [12, 14]
    # self_dedup=False keeps intra-snapshot dups, still drops history hits
    ids2 = sorted(
        r["doc_id"] for r in dedup_against(new, seen, self_dedup=False).collect()
    )
    assert ids2 == [12, 13, 14]


def test_hamming_band_pairs_bands8_exact_vs_brute_force(spark):
    """VERDICT r6 #6: audio/image dup screens often need max_hamming
    5-8, beyond the default bands=4 pigeonhole ceiling of 3. bands=8
    (8-bit blocks) must be EXACT at max_hamming=7: the banded join's
    survivor set equals a numpy brute force over all pairs, including
    signatures that collide in a band while being far overall."""
    import numpy as np

    from datamancer_spark.operators.dedup import hamming_band_pairs
    from datamancer_spark.session import materialize

    rng = np.random.default_rng(29)
    base = rng.integers(0, 1 << 63, size=18, dtype=np.int64)
    sigs = list(base)
    for i, s in enumerate(base):
        # near twin: flip 1..7 bits -> must pair with its base
        flips = rng.choice(64, size=(i % 7) + 1, replace=False)
        near = int(s)
        for f in flips:
            near ^= 1 << int(f)
        sigs.append(near - (1 << 64) if near >= 1 << 63 else near)
        # far twin sharing band 0 exactly: invert the top 40 bits
        far = int(s) ^ (0xFFFFFFFFFF << 24)
        sigs.append(far - (1 << 64) if far >= 1 << 63 else far)
    rows = [(i, int(s)) for i, s in enumerate(sigs)]
    sh = materialize(spark.createDataFrame(rows, "id long, sig long"))

    got = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in hamming_band_pairs(
            sh, "sig", "id", max_hamming=7, bands=8
        ).collect()
    }

    arr = np.array([s % (1 << 64) for s in sigs], dtype=np.uint64)
    want = {}
    for i in range(len(arr)):
        for j in range(i + 1, len(arr)):
            hd = int(bin(int(arr[i]) ^ int(arr[j])).count("1"))
            if hd <= 7:
                want[(i, j)] = hd
    assert got == want
    assert any(h > 3 for h in want.values())  # beyond the bands=4 ceiling

    import pytest

    with pytest.raises(ValueError, match="bands"):
        hamming_band_pairs(sh, "sig", "id", max_hamming=8, bands=8)


def test_ngram_containment_directed(spark):
    """r11 containment join: a short doc embedded in a longer one
    scores containment 1.0 forward and |A|/|B| backward — the
    asymmetry Jaccard cannot express (hand-computed shingle sets)."""
    from datamancer_spark.operators.dedup import (
        ngram_containment_pairs,
        ngram_jaccard_pairs,
    )

    short = "w1 w2 w3 w4 w5"               # 3 trigram shingles
    longer = short + " w6 w7"               # 5 shingles, superset
    df = spark.createDataFrame(
        [(1, short), (2, longer), (3, "x1 x2 x3 x4")],
        "doc_id long, text string",
    )
    got = {
        (r["src_id"], r["dst_id"]): r["containment"]
        for r in ngram_containment_pairs(
            df, shingle_n=3, threshold=0.0
        ).collect()
    }
    assert got[(1, 2)] == 1.0          # short fully contained
    assert got[(2, 1)] == 0.6          # 3/5 backward
    assert (1, 3) not in got and (3, 1) not in got
    # Jaccard sees the same pair symmetrically at 0.6 — no direction
    jac = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(
            df, shingle_n=3, threshold=0.0
        ).collect()
    }
    assert jac[(1, 2)] == 0.6
    # thresholding keeps only the directed subset relation
    kept = {
        (r["src_id"], r["dst_id"])
        for r in ngram_containment_pairs(
            df, shingle_n=3, threshold=0.8
        ).collect()
    }
    assert kept == {(1, 2)}


def test_ngram_containment_hot_shingle_guard(spark):
    """VERDICT r11 #1 witness: a boilerplate shingle shared by EVERY doc
    must not drive the posting self-join quadratic. With ``max_doc_freq``
    the hot postings prune BEFORE the pair join (bounded fan-out), and
    the error is one-sided: denominators stay the UNPRUNED shingle-set
    sizes, so guarded containment only ever underestimates."""
    from datamancer_spark.operators.dedup import ngram_containment_pairs

    boiler = "all rights reserved worldwide by the company"
    # 60 docs with fully disjoint real text + the same appended
    # boilerplate sentence (df = |docs| on its interior shingles —
    # the quadratic-join configuration in miniature)
    rows = [
        (i, f"tok{i}a tok{i}b tok{i}c tok{i}d tok{i}e " + boiler)
        for i in range(60)
    ]
    # plus one genuine subset pair whose overlap is NOT boilerplate
    rows += [
        (100, "q1 q2 q3 q4 q5 " + boiler),
        (101, "q1 q2 q3 q4 q5 q6 q7 " + boiler),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    # unguarded at threshold 0: every pair shares the 5 interior
    # boilerplate shingles -> all-pairs fan-out (62*61 directed rows)
    unguarded = ngram_containment_pairs(
        df, shingle_n=3, threshold=0.0
    ).collect()
    assert len(unguarded) == 62 * 61

    # guarded: hot shingles (df=62 > 10) prune; only the genuine
    # subset pair shares any surviving shingle -> 2 directed rows
    # TOTAL even at threshold 0 — bounded fan-out, not quadratic
    guarded = ngram_containment_pairs(
        df, shingle_n=3, threshold=0.0, max_doc_freq=10
    ).collect()
    got = {(r["src_id"], r["dst_id"]): r["containment"] for r in guarded}
    assert set(got) == {(100, 101), (101, 100)}

    # one-sided arithmetic: doc 100 has 12 tokens -> 10 shingles
    # unpruned; pruned overlap with 101 = {q1q2q3, q2q3q4, q3q4q5} = 3.
    # Denominator must be the UNPRUNED 10 (3/10), not the pruned 5
    # (which would OVERestimate at 0.6); and 0.3 < the unguarded 0.8.
    assert got[(100, 101)] == 0.3
    assert got[(101, 100)] == 0.25  # 3 / 12 unpruned shingles
    unguarded_val = {
        (r["src_id"], r["dst_id"]): r["containment"] for r in unguarded
    }[(100, 101)]
    assert unguarded_val == 0.8
    assert got[(100, 101)] < unguarded_val
