"""Connected components + canonical dedup."""

import pytest
from pyspark.sql import functions as F


def test_components_chain_and_islands(spark):
    from datamancer_spark.operators.components import connected_components

    # chain 1-2-3-4 (diameter 3, needs multiple rounds), pair 10-11, 20-21
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21)], ["id_a", "id_b"]
    )
    comp = {
        r["node"]: r["component"] for r in connected_components(pairs).collect()
    }
    assert comp[1] == comp[2] == comp[3] == comp[4] == 1
    assert comp[10] == comp[11] == 10
    assert comp[20] == comp[21] == 20


def test_components_long_chain_converges(spark):
    from datamancer_spark.operators.components import connected_components

    n = 30
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n)], ["id_a", "id_b"]
    )
    comp = {r["node"]: r["component"] for r in connected_components(pairs).collect()}
    assert set(comp.values()) == {0}
    assert len(comp) == n + 1


def test_dedup_keep_canonical(spark):
    from datamancer_spark.operators.components import dedup_keep_canonical

    docs = spark.createDataFrame(
        [(i, f"doc {i}") for i in range(6)], ["doc_id", "text"]
    )
    pairs = spark.createDataFrame([(0, 1), (1, 2), (4, 5)], ["id_a", "id_b"])
    kept = sorted(r["doc_id"] for r in dedup_keep_canonical(docs, pairs).collect())
    # {0,1,2} -> keep 0; {4,5} -> keep 4; 3 untouched
    assert kept == [0, 3, 4]


def test_full_near_dup_pipeline(spark):
    """minhash_dedup_verified → components → canonical keep, end to end."""
    from datamancer_spark.operators.components import dedup_keep_canonical
    from datamancer_spark.operators.dedup import minhash_dedup_verified

    rows = [
        (0, "the quick brown fox jumps over the lazy dog"),
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumped over the lazy dog"),
        (3, "completely different content about spark engines"),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    pairs = minhash_dedup_verified(docs, threshold=0.4)
    kept = sorted(r["doc_id"] for r in dedup_keep_canonical(docs, pairs).collect())
    assert 0 in kept and 3 in kept and 1 not in kept


class TestPageRank:
    def test_hand_solved_fixed_points(self, spark):
        """r11 PageRank: 30 iterations converge to the analytically
        solved fixed points. Star+loop (1,2,3 -> 0, 0 -> 1): leaves
        keep (1-d)/4; dangling chain (0 -> 1): r1 = 0.6491228…
        (solve r0 = .075 + .425 r1; r1 = .075 + .85 r0 + .425 r1)."""
        from datamancer_spark.operators.components import pagerank

        edges = spark.createDataFrame(
            [(1, 0), (2, 0), (3, 0), (0, 1)], "src long, dst long"
        )
        got = {r["node"]: r["rank"] for r in pagerank(edges, iters=40).collect()}
        assert abs(got[2] - 0.0375) < 1e-9
        assert abs(got[3] - 0.0375) < 1e-9
        assert abs(sum(got.values()) - 1.0) < 1e-9
        assert got[0] > got[1] > got[2]

        dang = spark.createDataFrame([(0, 1)], "src long, dst long")
        got2 = {r["node"]: r["rank"] for r in pagerank(dang, iters=60).collect()}
        assert abs(got2[1] - 0.13875 / 0.21375) < 1e-6
        assert abs(sum(got2.values()) - 1.0) < 1e-9

    def test_rank_sums_to_one_every_iteration(self, spark):
        from datamancer_spark.operators.components import pagerank

        edges = spark.createDataFrame(
            [(i, (i * 3 + 1) % 20) for i in range(20)]
            + [(i, (i * 7 + 2) % 20) for i in range(0, 20, 2)],
            "src long, dst long",
        )
        for it in (1, 3, 7):
            total = sum(
                r["rank"] for r in pagerank(edges, iters=it).collect()
            )
            assert abs(total - 1.0) < 1e-9, (it, total)

    def test_per_iteration_rounding_is_stable(self, spark):
        """round_decimals=6 gives identical ranks across partition
        layouts (the differential-gate convention)."""
        from datamancer_spark.operators.components import pagerank

        rows = [(i, (i * 5 + 3) % 50) for i in range(50)]
        a = spark.createDataFrame(rows, "src long, dst long").coalesce(1)
        b = spark.createDataFrame(rows, "src long, dst long").repartition(16)
        ra = sorted(map(tuple, pagerank(a, iters=8, round_decimals=6).collect()))
        rb = sorted(map(tuple, pagerank(b, iters=8, round_decimals=6).collect()))
        assert ra == rb


def test_pagerank_null_edges_dropped(spark):
    from datamancer_spark.operators.components import pagerank

    edges = spark.createDataFrame(
        [(0, 1), (1, 0), (0, None), (None, 1)],
        "src long, dst long",
    )
    got = {r["node"]: r["rank"] for r in pagerank(edges, iters=5).collect()}
    assert set(got) == {0, 1}
    assert abs(sum(got.values()) - 1.0) < 1e-9


class TestHits:
    def test_hub_and_authority_separation(self, spark):
        """Classic structure: node 0 points at {1,2,3}, node 4 points
        at 1 — 0 is the best hub (it finds every authority), 1 the
        best authority (endorsed by both hubs); pure hubs have zero
        authority and vice versa."""
        from datamancer_spark.operators.components import hits

        edges = spark.createDataFrame(
            [(0, 1), (0, 2), (0, 3), (4, 1)], "src long, dst long"
        )
        got = {r["node"]: (r["hub"], r["auth"])
               for r in hits(edges, iters=20).collect()}
        assert got[0][0] > got[4][0] > 0          # hub ordering
        assert got[0][1] == 0.0 and got[4][1] == 0.0
        assert got[1][1] > got[2][1] == got[3][1] > 0
        assert got[1][0] == got[2][0] == got[3][0] == 0.0
        # sum-normalized: each side sums to 1
        assert abs(sum(h for h, _ in got.values()) - 1.0) < 1e-9
        assert abs(sum(a for _, a in got.values()) - 1.0) < 1e-9

    def test_rounding_layout_stable_and_nulls_dropped(self, spark):
        from datamancer_spark.operators.components import hits

        rows = [(i, (i * 3 + 1) % 30) for i in range(30)] + [(0, None)]
        a = spark.createDataFrame(rows, "src long, dst long").coalesce(1)
        b = spark.createDataFrame(rows, "src long, dst long").repartition(8)
        ra = sorted(map(tuple, hits(a, iters=5, round_decimals=6).collect()))
        rb = sorted(map(tuple, hits(b, iters=5, round_decimals=6).collect()))
        assert ra == rb
        assert all(r[0] is not None for r in ra)


def test_rounding_guard_rejects_degenerate_resolution(spark):
    """r11 ADVICE witness: per-iteration rounding at a resolution where
    1/n itself rounds to 0 must raise loudly, not degenerate (PageRank
    to the teleport term, HITS to NaN via a zero-sum division)."""
    import pytest

    from datamancer_spark.operators.components import (
        _check_rounding_resolution,
        hits,
        pagerank,
    )

    # direct guard arithmetic: 1/n < 0.5e-rd is the degenerate line
    _check_rounding_resolution(2_000_000, None)  # None is always fine
    _check_rounding_resolution(1_999_999, 6)  # 1/n just above 0.5e-6
    with pytest.raises(ValueError, match="round_decimals"):
        _check_rounding_resolution(2_000_001, 6)

    # end-to-end: a 3-node graph at round_decimals=0 rounds 1/3 -> 0
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1)], "src long, dst long"
    )
    with pytest.raises(ValueError, match="round_decimals"):
        pagerank(edges, iters=2, round_decimals=0)
    with pytest.raises(ValueError, match="round_decimals"):
        hits(edges, iters=2, round_decimals=0)


def test_pagerank_early_stop_matches_fixed_at_convergence(spark):
    """r12 early-stop tier (VERDICT r11 #8): with per-iteration
    rounding the power method reaches an exact rounded fixed point;
    tol=0 must stop there, in strictly fewer rounds than the cap, with
    ranks IDENTICAL to the fixed-count form (further iterations change
    nothing at the fixed point)."""
    from datamancer_spark.operators.components import pagerank

    # ring + spokes: the spokes make in-flows uneven, so the start
    # vector (uniform) is not stationary and the early stop needs
    # several rounds under 1e-6 rounding
    n = 20
    edges = spark.createDataFrame(
        [(i, (i + 1) % n) for i in range(n)]
        + [(i, i % 4) for i in range(n)],
        "src long, dst long",
    )
    fixed = {
        r["node"]: r["rank"]
        for r in pagerank(
            edges, iters=60, round_decimals=6
        ).collect()
    }
    early, rounds = pagerank(
        edges, iters=60, round_decimals=6, tol=0.0, return_rounds=True
    )
    got = {r["node"]: r["rank"] for r in early.collect()}
    assert got == fixed
    assert rounds > 1, "the start vector was already stationary"
    assert rounds < 60, "early stop never fired"
    # the scaling story: a conservative fixed cap wastes (60 - rounds)
    # full edge-join rounds after convergence
    assert rounds <= 30


def test_hits_early_stop_matches_fixed_at_convergence(spark):
    """r12: same early-stop contract as pagerank, on the hub vector."""
    from datamancer_spark.operators.components import hits

    n = 20
    edges = spark.createDataFrame(
        [(i, (i + 1) % n) for i in range(n)]
        + [(i, i % 4) for i in range(n)],
        "src long, dst long",
    )
    fixed = {
        (r["node"]): (r["hub"], r["auth"])
        for r in hits(edges, iters=40, round_decimals=6).collect()
    }
    early, rounds = hits(
        edges, iters=40, round_decimals=6, tol=0.0, return_rounds=True
    )
    got = {r["node"]: (r["hub"], r["auth"]) for r in early.collect()}
    assert got == fixed
    assert rounds < 40, "early stop never fired"


class TestKCore:
    def _edges(self, spark, pairs):
        return spark.createDataFrame(pairs, "src string, dst string")

    def test_triangle_survives_tail_peels(self, spark):
        """Triangle {a,b,c} + tail c-d-e at k=2: e peels round 1 (deg 1),
        d peels round 2 (its only remaining neighbor left), triangle
        stays with in-core degree 2 each."""
        from datamancer_spark.operators.components import k_core

        e = self._edges(
            spark,
            [("a", "b"), ("b", "c"), ("c", "a"), ("c", "d"), ("d", "e")],
        )
        got = {r["node"]: r["degree"] for r in k_core(e, k=2).collect()}
        assert got == {"a": 2, "b": 2, "c": 2}

    def test_k3_empty_on_tree(self, spark):
        """A tree has no 3-core: leaves always have degree 1, so every
        peel order empties it completely."""
        from datamancer_spark.operators.components import k_core

        e = self._edges(
            spark, [("r", "a"), ("r", "b"), ("a", "c"), ("a", "d")]
        )
        assert k_core(e, k=3).count() == 0

    def test_direction_and_duplicates_ignored(self, spark):
        """Symmetrization: reversed + duplicated + self-loop edges
        collapse to the same undirected simple graph."""
        from datamancer_spark.operators.components import k_core

        clean = self._edges(spark, [("a", "b"), ("b", "c"), ("c", "a")])
        noisy = self._edges(
            spark,
            [
                ("a", "b"), ("b", "a"), ("a", "b"),
                ("c", "b"), ("c", "a"), ("a", "a"),
            ],
        )
        want = sorted(
            tuple(r) for r in k_core(clean, k=2).collect()
        )
        got = sorted(tuple(r) for r in k_core(noisy, k=2).collect())
        assert got == want == [("a", 2), ("b", 2), ("c", 2)]

    def test_pinned_rounds_reach_fixpoint_on_gate_graph(self, spark, sf_dir):
        """The gate pins rounds=3; the production surface is the
        fixpoint. On the crawl-fixture graph both must agree (the gate
        would otherwise certify a prefix of the peel, not the core)."""
        from datamancer_spark.operators.components import k_core
        from datamancer_spark.operators.fixtures import (
            synth_blob_frame,
            warc_link_blob,
        )
        from datamancer_spark.operators.warc import extract_links
        from pyspark.sql import functions as F

        doc = spark.read.parquet(f"{sf_dir}/documents.parquet")
        blobs = synth_blob_frame(doc.select("doc_id"), warc_link_blob)
        edges = extract_links(blobs).select(
            F.col("src_url").alias("src"), F.col("dst_url").alias("dst")
        )
        pinned = sorted(
            tuple(r) for r in k_core(edges, k=3, rounds=3).collect()
        )
        fixed, rounds_run = k_core(edges, k=3, return_rounds=True)
        fixed = sorted(tuple(r) for r in fixed.collect())
        assert pinned == fixed
        assert rounds_run <= 3 + 1  # fixpoint confirms within one extra round

    def test_fixpoint_raises_past_max_rounds(self, spark):
        """Peel depth is O(n) on path graphs (each round removes only
        the endpoints) — review r14: a silently returned round-capped
        prefix would label interior chain nodes as core members, so
        non-convergence raises instead (the raising-beats-warning
        convention)."""
        import pytest as _pytest

        from datamancer_spark.operators.components import k_core

        path = self._edges(
            spark, [(str(i), str(i + 1)) for i in range(12)]
        )
        with _pytest.raises(ValueError, match="max_rounds"):
            k_core(path, k=2, max_rounds=2)
        # the same graph converges fine with enough rounds (empty core)
        assert k_core(path, k=2, max_rounds=10).count() == 0


def test_k_core_rejects_nonpositive_max_rounds(spark):
    """ADVICE r14: rounds=None with max_rounds<1 used to skip the loop
    and NameError on the non-convergence diagnostic; now it raises the
    intended ValueError up front."""
    import pytest as _pytest

    from datamancer_spark.operators.components import k_core

    edges = spark.createDataFrame([(1, 2), (2, 3)], "src long, dst long")
    with _pytest.raises(ValueError, match="max_rounds must be >= 1"):
        k_core(edges, k=1, rounds=None, max_rounds=0)


def test_components_raises_when_max_iter_cannot_converge(spark):
    """A 64-node path needs several pointer-jumping rounds; one round
    leaves labels changing, and the unconverged labelling must not be
    returned silently."""
    from datamancer_spark.operators.components import connected_components

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(63)], ["id_a", "id_b"]
    )
    with pytest.raises(ValueError, match="max_iter=1"):
        connected_components(pairs, max_iter=1)


def test_round_cap_below_one_raises(spark):
    """The round cap must be >= 1: with none, hits joined a missing
    authority vector (AttributeError) and connected_components
    reported labels still changing after running no round."""
    from datamancer_spark.operators.components import (
        connected_components,
        hits,
        pagerank,
    )

    edges = spark.createDataFrame([(0, 1), (1, 0)], "src long, dst long")
    with pytest.raises(ValueError, match="iters must be >= 1"):
        pagerank(edges, iters=0)
    with pytest.raises(ValueError, match="iters must be >= 1"):
        hits(edges, iters=0)
    pairs = spark.createDataFrame([(0, 1)], ["id_a", "id_b"])
    with pytest.raises(ValueError, match="max_iter must be >= 1"):
        connected_components(pairs, max_iter=0)


def test_power_iterations_raise_when_tol_not_reached(spark):
    """With ``tol`` set, ``iters`` is a cap, and reaching it unconverged
    raises, as connected_components and k_core do. The ring + spokes
    graph needs more than 2 rounds to reach the rounded fixed point
    under either operator; the fixed-count form still returns."""
    from datamancer_spark.operators.components import hits, pagerank

    n = 20
    edges = spark.createDataFrame(
        [(i, (i + 1) % n) for i in range(n)]
        + [(i, i % 4) for i in range(n)],
        "src long, dst long",
    )
    for op in (pagerank, hits):
        with pytest.raises(ValueError, match="iters=2"):
            op(edges, iters=2, round_decimals=6, tol=0.0)
        assert op(edges, iters=2, round_decimals=6).count() == n


def test_graph_operator_job_counts(spark):
    """The iterative operators' executed plans are ExistingRDD stubs,
    so the number of Spark jobs they run is the regression signal
    (setJobGroup + statusTracker). Each ceiling is the count measured
    on the same fixture before the four operators shared one driver
    loop. HITS varies by a few jobs from run to run (147-153 over 19
    runs), so each operator counts the fewer of two runs.
    Version-pinned: PySpark 4.1 expectations, re-baselined on a Spark
    upgrade."""
    from datamancer_spark.operators.components import (
        connected_components,
        hits,
        k_core,
        pagerank,
    )

    sc = spark.sparkContext
    tracker = sc.statusTracker()

    def jobs(name, run):
        counts = []
        for i in range(2):
            group = f"job-count-{name}-{i}"
            sc.setJobGroup(group, group)
            try:
                run().collect()
            finally:
                sc.setLocalProperty("spark.jobGroup.id", None)
            counts.append(len(tracker.getJobIdsForGroup(group)))
        return min(counts)

    n = 20
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21)], ["id_a", "id_b"]
    )
    ring_chords = spark.createDataFrame(
        [(i, (i + 1) % n) for i in range(n)]
        + [(i, (i * 7 + 3) % n) for i in range(n)],
        "src long, dst long",
    )
    ring_spokes = spark.createDataFrame(
        [(i, (i + 1) % n) for i in range(n)]
        + [(i, i % 4) for i in range(n)],
        "src long, dst long",
    )
    tail = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a"), ("c", "d"), ("d", "e")],
        "src string, dst string",
    )
    runs = {
        "connected_components": (lambda: connected_components(pairs), 25),
        "pagerank": (lambda: pagerank(
            ring_chords, iters=60, round_decimals=6, tol=0.0), 30),
        "hits": (lambda: hits(
            ring_spokes, iters=40, round_decimals=6, tol=0.0), 153),
        "k_core": (lambda: k_core(tail, k=2), 37),
    }
    for name, (run, ceiling) in runs.items():
        got = jobs(name, run)
        assert got <= ceiling, (name, got, ceiling)
