"""Round-4 operators: hashed linear classifier scoring, per-key domain
capping, and the time-grid pair (RANGE trailing window, forward-fill
resample) — crafted inputs pinning the semantics the flat synthetic
corpus can't distinguish, plus plan-shape guards."""

from __future__ import annotations

from datetime import datetime

import pytest
from pyspark.sql import functions as F


def _plan(df):
    return df._jdf.queryExecution().executedPlan().toString()


class TestHashedLinearScore:
    def test_zero_shuffle_projection(self, spark, sf_dir):
        from datamancer_spark.operators.classify import hashed_linear_score

        doc = spark.read.parquet(f"{sf_dir}/documents.parquet")
        out = hashed_linear_score(doc)
        p = _plan(out)
        assert "Exchange" not in p, "scoring must be a pure projection"
        assert "Python" not in p and "Arrow" not in p

    def test_deterministic_and_bounded(self, spark, sf_dir):
        from datamancer_spark.operators.classify import hashed_linear_score

        doc = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(50)
        a = {r["doc_id"]: r["score"] for r in hashed_linear_score(doc).collect()}
        b = {r["doc_id"]: r["score"] for r in hashed_linear_score(doc).collect()}
        assert a == b
        assert all(0.0 <= s <= 1.0 for s in a.values())

    def test_empty_doc_scores_bias(self, spark):
        from datamancer_spark.operators.classify import hashed_linear_score

        d = spark.createDataFrame([(1, ""), (2, "   ")], "doc_id long, text string")
        rows = {r["doc_id"]: (r["score"], r["keep"])
                for r in hashed_linear_score(d).collect()}
        # zero tokens -> logit = bias = 0 -> sigmoid 0.5, keep at >= 0.5
        assert rows == {1: (0.5, True), 2: (0.5, True)}

    def test_explicit_weights_override(self, spark):
        from datamancer_spark.operators.classify import hashed_linear_score
        from datamancer_spark.operators.dedup import hash32

        d = spark.createDataFrame([(1, "good good good")], "doc_id long, text string")
        bucket = d.select((hash32(F.lit("good")) % 16).alias("b")).collect()[0]["b"]
        hi = {int(bucket): 5.0}
        lo = {int(bucket): -5.0}
        s_hi = hashed_linear_score(d, dim=16, weights=hi).collect()[0]
        s_lo = hashed_linear_score(d, dim=16, weights=lo).collect()[0]
        assert s_hi["score"] > 0.99 and s_hi["keep"]
        assert s_lo["score"] < 0.01 and not s_lo["keep"]


class TestCapPerKey:
    def test_cap_and_determinism(self, spark, sf_dir):
        from datamancer_spark.operators.sampling import cap_per_key

        doc = spark.read.parquet(f"{sf_dir}/documents.parquet")
        capped = cap_per_key(doc, "source", 3, "doc_id")
        per = {r["source"]: r["n"] for r in
               capped.groupBy("source").agg(F.count(F.lit(1)).alias("n")).collect()}
        assert per and all(n <= 3 for n in per.values())
        # same rows regardless of partitioning
        a = {r["doc_id"] for r in capped.collect()}
        b = {r["doc_id"] for r in
             cap_per_key(doc.repartition(7), "source", 3, "doc_id").collect()}
        assert a == b

    def test_under_cap_keys_untouched(self, spark):
        from datamancer_spark.operators.sampling import cap_per_key

        d = spark.createDataFrame(
            [(i, "only") for i in range(2)], "doc_id long, source string"
        )
        assert cap_per_key(d, "source", 10, "doc_id").count() == 2

    def test_rank_column_and_bad_cap(self, spark):
        from datamancer_spark.operators.sampling import cap_per_key

        d = spark.createDataFrame(
            [(i, "s") for i in range(5)], "doc_id long, source string"
        )
        ranked = cap_per_key(d, "source", 3, "doc_id", out="rank")
        assert sorted(r["rank"] for r in ranked.collect()) == [1, 2, 3]
        with pytest.raises(ValueError):
            cap_per_key(d, "source", 0, "doc_id")


def _ev(spark, rows):
    return spark.createDataFrame(
        [(i, datetime(2024, 1, 1, h, m), u, float(v)) for i, (h, m, u, v) in enumerate(rows)],
        "event_id long, ts timestamp, user_id long, value double",
    )


class TestTrailingWindow:
    def test_window_bounds_inclusive(self, spark):
        from datamancer_spark.operators.timeseries import trailing_window

        # user 1: events at 00:00, 00:30, 01:00 — the 1h window at 01:00
        # includes 00:30 and 01:00 but NOT 00:00 (3600s back, exclusive
        # of the instant exactly one hour earlier: range is 3599 back)
        rows = [(0, 0, 1, 10), (0, 30, 1, 20), (1, 0, 1, 30)]
        out = {r["event_id"]: (r["trailing_sum"], r["trailing_n"])
               for r in trailing_window(
                   _ev(spark, rows), "ts", ["user_id"], "value"
               ).collect()}
        assert out[0] == (10.0, 1)
        assert out[1] == (30.0, 2)
        assert out[2] == (50.0, 2)

    def test_equal_timestamps_are_peers(self, spark):
        from datamancer_spark.operators.timeseries import trailing_window

        rows = [(0, 0, 1, 1), (0, 0, 1, 2)]
        out = [r["trailing_sum"] for r in trailing_window(
            _ev(spark, rows), "ts", ["user_id"], "value").collect()]
        # RANGE frame: both rows see both peers
        assert out == [3.0, 3.0]

    def test_no_self_join_in_plan(self, spark, sf_dir):
        from datamancer_spark.operators.timeseries import trailing_window

        ev = spark.read.parquet(f"{sf_dir}/events.parquet")
        p = _plan(trailing_window(ev, "ts", ["user_id"], "value"))
        assert "Join" not in p, "trailing window must not self-join"


class TestResampleFfill:
    def test_gap_filled_forward(self, spark):
        from datamancer_spark.operators.timeseries import resample_ffill

        # user 1: values at hour 0 and hour 3 -> hours 1,2 carry hour 0's
        rows = [(0, 0, 1, 5), (3, 0, 1, 9)]
        out = resample_ffill(
            _ev(spark, rows), "ts", ["user_id"], "value", "1 hour", "last"
        )
        vals = [r["value"] for r in out.orderBy("bucket").collect()]
        assert vals == [5.0, 5.0, 5.0, 9.0]

    def test_last_in_bucket_wins(self, spark):
        from datamancer_spark.operators.timeseries import resample_ffill

        rows = [(0, 10, 1, 5), (0, 50, 1, 7)]  # same hour, later wins
        out = resample_ffill(
            _ev(spark, rows), "ts", ["user_id"], "value", "1 hour", "last"
        ).collect()
        assert len(out) == 1 and out[0]["value"] == 7.0

    def test_mean_agg(self, spark):
        from datamancer_spark.operators.timeseries import resample_ffill

        rows = [(0, 10, 1, 4), (0, 50, 1, 8)]
        out = resample_ffill(
            _ev(spark, rows), "ts", ["user_id"], "value", "1 hour", "mean"
        ).collect()
        assert out[0]["value"] == 6.0

    def test_per_user_grid_bounds(self, spark):
        from datamancer_spark.operators.timeseries import resample_ffill

        # user 2's grid must not extend to user 1's range
        rows = [(0, 0, 1, 1), (5, 0, 1, 2), (2, 0, 2, 3)]
        out = resample_ffill(
            _ev(spark, rows), "ts", ["user_id"], "value", "1 hour", "last"
        )
        per_user = {r["user_id"]: r["n"] for r in
                    out.groupBy("user_id").agg(F.count(F.lit(1)).alias("n")).collect()}
        assert per_user == {1: 6, 2: 1}


class TestFuzzyDedupAgainst:
    """Cross-snapshot near-dup dedup (fuzzy_dedup_against): crafted
    corpora pin the cross-corpus semantics — near-dup of history is
    dropped, exact dup of history is dropped, unrelated and
    below-threshold docs survive, and history is never emitted."""

    BASE = ("the quick brown fox jumps over the lazy dog while rain "
            "falls softly on the quiet green meadow near the old mill")

    def _corpora(self, spark):
        near = self.BASE.replace("lazy dog", "sleepy dog")  # ~0.8 jaccard
        far = "completely different subject matter entirely: " + \
              "astronomy telescopes orbit planets stars galaxies " + \
              "nebulae comets asteroids meteors moons eclipses"
        seen = spark.createDataFrame(
            [(1, self.BASE), (2, "archived special report " * 5)],
            "doc_id long, text string",
        )
        new = spark.createDataFrame(
            [(10, near), (11, self.BASE), (12, far)],
            "doc_id long, text string",
        )
        return new, seen

    def test_near_and_exact_dups_of_history_dropped(self, spark):
        from datamancer_spark.operators.dedup import fuzzy_dedup_against

        new, seen = self._corpora(spark)
        ids = {r["doc_id"] for r in fuzzy_dedup_against(new, seen).collect()}
        assert ids == {12}

    def test_band_only_screen_is_superset_filter(self, spark):
        from datamancer_spark.operators.dedup import fuzzy_dedup_against

        new, seen = self._corpora(spark)
        verified = {r["doc_id"]
                    for r in fuzzy_dedup_against(new, seen).collect()}
        band_only = {r["doc_id"]
                     for r in fuzzy_dedup_against(new, seen, verify=False).collect()}
        # band-only drops at least everything the verified path drops
        assert band_only <= verified
        assert 12 in band_only

    def test_empty_seen_keeps_all(self, spark):
        from datamancer_spark.operators.dedup import fuzzy_dedup_against

        new, _ = self._corpora(spark)
        seen = spark.createDataFrame([], "doc_id long, text string")
        assert fuzzy_dedup_against(new, seen).count() == new.count()

    def test_no_cartesian_in_plan(self, spark, sf_dir):
        from datamancer_spark.operators.dedup import fuzzy_dedup_against

        doc = spark.read.parquet(f"{sf_dir}/documents.parquet")
        seen = doc.filter(F.col("source").isin("src0", "src1"))
        new = doc.filter(~F.col("source").isin("src0", "src1"))
        p = _plan(fuzzy_dedup_against(new, seen))
        assert "Cartesian" not in p and "BroadcastNestedLoop" not in p


class TestChunkDocuments:
    def test_exact_windows(self, spark):
        from datamancer_spark.operators.quality import chunk_documents

        text = " ".join(f"t{i}" for i in range(10))  # 10 tokens
        d = spark.createDataFrame([(1, text)], "doc_id long, text string")
        rows = sorted(
            chunk_documents(d, chunk_tokens=4, stride=3).collect(),
            key=lambda r: r["chunk_idx"],
        )
        # ceil((10-4)/3)=2 extra -> 3 chunks at starts 0,3,6
        assert [r["chunk_start"] for r in rows] == [0, 3, 6]
        assert rows[0]["chunk_text"] == "t0 t1 t2 t3"
        assert rows[2]["chunk_text"] == "t6 t7 t8 t9"
        assert rows[2]["n_chunk_tokens"] == 4

    def test_short_doc_single_chunk(self, spark):
        from datamancer_spark.operators.quality import chunk_documents

        d = spark.createDataFrame([(1, "a b"), (2, "")], "doc_id long, text string")
        rows = {(r["doc_id"], r["chunk_idx"]): r
                for r in chunk_documents(d, chunk_tokens=4, stride=3).collect()}
        assert set(rows) == {(1, 0), (2, 0)}
        assert rows[(1, 0)]["n_chunk_tokens"] == 2
        assert rows[(2, 0)]["n_chunk_tokens"] == 0

    def test_no_suffix_only_trailing_chunk(self, spark):
        from datamancer_spark.operators.quality import chunk_documents

        # 5 tokens, window 4, stride 3: chunk 1 (start 3) adds token 4
        # -> 2 chunks; 4 tokens -> window covers all -> exactly 1
        d = spark.createDataFrame(
            [(1, "a b c d e"), (2, "a b c d")], "doc_id long, text string"
        )
        n = {r["doc_id"]: r["n"] for r in (
            chunk_documents(d, chunk_tokens=4, stride=3)
            .groupBy("doc_id").agg(F.count(F.lit(1)).alias("n")).collect())}
        assert n == {1: 2, 2: 1}

    def test_zero_shuffle(self, spark, sf_dir):
        from datamancer_spark.operators.quality import chunk_documents

        doc = spark.read.parquet(f"{sf_dir}/documents.parquet")
        p = _plan(chunk_documents(doc))
        assert "Exchange" not in p and "Python" not in p

    def test_bad_args(self, spark):
        from datamancer_spark.operators.quality import chunk_documents

        d = spark.createDataFrame([(1, "a")], "doc_id long, text string")
        with pytest.raises(ValueError):
            chunk_documents(d, chunk_tokens=4, stride=5)
        with pytest.raises(ValueError):
            chunk_documents(d, chunk_tokens=0, stride=0)


class TestWeightedSample:
    def test_weight_proportional_inclusion(self, spark):
        from datamancer_spark.operators.sampling import weighted_sample

        # 1 heavy doc (w=1000) among 200 light (w=1): across 40 seeds the
        # heavy doc must be picked far more often than any light doc
        rows = [(i, 1000.0 if i == 0 else 1.0) for i in range(201)]
        d = spark.createDataFrame(rows, "doc_id long, w double")
        heavy = sum(
            1 for s in range(40)
            if any(r["doc_id"] == 0
                   for r in weighted_sample(d, "w", 5, seed=s).collect())
        )
        assert heavy >= 35  # ~5 draws x w=1000 vs total ~1200 -> near-certain

    def test_without_replacement_and_k(self, spark):
        from datamancer_spark.operators.sampling import weighted_sample

        d = spark.createDataFrame(
            [(i, "g", 1.0) for i in range(30)], "doc_id long, g string, w double"
        )
        out = weighted_sample(d, "w", 10, group_cols=["g"]).collect()
        ids = [r["doc_id"] for r in out]
        assert len(ids) == 10 and len(set(ids)) == 10

    def test_deterministic(self, spark):
        from datamancer_spark.operators.sampling import weighted_sample

        d = spark.createDataFrame(
            [(i, float(i + 1)) for i in range(50)], "doc_id long, w double"
        )
        a = {r["doc_id"] for r in weighted_sample(d, "w", 7).collect()}
        b = {r["doc_id"] for r in weighted_sample(d, "w", 7).collect()}
        assert a == b and len(a) == 7

    def test_nonpositive_weights_excluded(self, spark):
        from datamancer_spark.operators.sampling import weighted_sample

        d = spark.createDataFrame(
            [(1, 0.0), (2, -1.0), (3, None), (4, 2.0)], "doc_id long, w double"
        )
        out = {r["doc_id"] for r in weighted_sample(d, "w", 10).collect()}
        assert out == {4}


class TestIntervalJoin:
    def _frames(self, spark):
        from datetime import datetime

        pts = spark.createDataFrame(
            [(1, 1, datetime(2024, 1, 1, 10, 30)),
             (2, 1, datetime(2024, 1, 1, 12, 0)),
             (3, 2, datetime(2024, 1, 1, 10, 30))],
            "pid long, user_id long, ts timestamp",
        )
        iv = spark.createDataFrame(
            [(100, 1, datetime(2024, 1, 1, 10, 0), datetime(2024, 1, 1, 11, 0)),
             (200, 2, datetime(2024, 1, 1, 11, 0), datetime(2024, 1, 1, 12, 0))],
            "iid long, user_id long, s timestamp, e timestamp",
        )
        return pts, iv

    def test_containment_and_keys(self, spark):
        from datamancer_spark.operators.timeseries import interval_join

        pts, iv = self._frames(spark)
        out = {(r["pid"], r["iid"]) for r in interval_join(
            pts, iv, "ts", "s", "e", keys=["user_id"]).collect()}
        # pid 1 in iv 100 (same user); pid 3 same time but user 2, iv 200
        # starts 11:00 -> no match; pid 2 at 12:00 not in user 1 interval
        assert out == {(1, 100)}

    def test_closed_bounds(self, spark):
        from datamancer_spark.operators.timeseries import interval_join
        from datetime import datetime

        pts = spark.createDataFrame(
            [(1, datetime(2024, 1, 1, 10, 0)), (2, datetime(2024, 1, 1, 11, 0))],
            "pid long, ts timestamp",
        )
        iv = spark.createDataFrame(
            [(9, datetime(2024, 1, 1, 10, 0), datetime(2024, 1, 1, 11, 0))],
            "iid long, s timestamp, e timestamp",
        )
        def pairs(closed):
            return {r["pid"] for r in interval_join(
                pts, iv, "ts", "s", "e", closed=closed).collect()}
        assert pairs("both") == {1, 2}
        assert pairs("left") == {1}
        assert pairs("right") == {2}
        assert pairs("neither") == set()

    def test_multi_bucket_interval(self, spark):
        from datamancer_spark.operators.timeseries import interval_join
        from datetime import datetime

        # 5-hour interval spans many 1h bins; each contained point
        # matches exactly once (no duplicate rows from bin explode)
        pts = spark.createDataFrame(
            [(i, datetime(2024, 1, 1, 10 + i)) for i in range(5)],
            "pid long, ts timestamp",
        )
        iv = spark.createDataFrame(
            [(9, datetime(2024, 1, 1, 10), datetime(2024, 1, 1, 15))],
            "iid long, s timestamp, e timestamp",
        )
        out = [r["pid"] for r in interval_join(pts, iv, "ts", "s", "e").collect()]
        assert sorted(out) == [0, 1, 2, 3, 4]

    def test_no_nested_loop_join(self, spark, sf_dir):
        from datamancer_spark.operators.timeseries import interval_join

        ev = spark.read.parquet(f"{sf_dir}/events.parquet")
        iv = ev.limit(100).select(
            "user_id", F.col("ts").alias("s"),
            (F.col("ts") + F.expr("interval 1 hour")).alias("e"))
        p = _plan(interval_join(ev, iv, "ts", "s", "e", keys=["user_id"]))
        assert "BroadcastNestedLoop" not in p and "Cartesian" not in p


class TestMinhashIndexLifecycle:
    """build_minhash_index + fuzzy_dedup_against_index: the persisted
    dedup-index path must be a zero-shuffle build and produce exactly
    the direct fuzzy_dedup_against output when probed."""

    def test_index_build_zero_shuffle(self, spark, sf_dir):
        from datamancer_spark.operators.dedup import build_minhash_index

        doc = spark.read.parquet(f"{sf_dir}/documents.parquet")
        p = _plan(build_minhash_index(doc))
        assert "Exchange" not in p and "Python" not in p

    def test_signatures_match_relational_path(self, spark, sf_dir):
        from datamancer_spark.operators.dedup import (
            build_minhash_index,
            minhash_signature,
        )

        doc = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(80)
        a = {r["doc_id"]: r["sig"] for r in build_minhash_index(doc).collect()}
        b = {r["doc_id"]: r["sig"] for r in minhash_signature(doc).collect()}
        assert a == b

    def test_probe_equals_direct(self, spark, sf_dir, tmp_path):
        from pyspark.sql import functions as F
        from datamancer_spark.operators.dedup import (
            build_minhash_index,
            fuzzy_dedup_against,
            fuzzy_dedup_against_index,
        )

        doc = spark.read.parquet(f"{sf_dir}/documents.parquet")
        seen = doc.filter(F.col("source").isin("src0", "src1", "src2"))
        new = doc.filter(~F.col("source").isin("src0", "src1", "src2"))
        # persist + reload the index, as the real lifecycle would
        ipath = str(tmp_path / "mh_index")
        build_minhash_index(seen).write.mode("overwrite").parquet(ipath)
        index = spark.read.parquet(ipath)
        direct = {r["doc_id"] for r in fuzzy_dedup_against(new, seen).collect()}
        probed = {r["doc_id"]
                  for r in fuzzy_dedup_against_index(new, index).collect()}
        assert probed == direct



class TestSemanticDedup:
    def _codebook(self):
        import numpy as np
        return np.array([[1.0, 0.0], [0.0, 1.0]])

    def test_predecessor_rule(self, spark):
        from datamancer_spark.operators.similarity import semantic_dedup

        # cluster x-axis: 1 and 2 nearly parallel (cos ~1) -> 2 dropped;
        # cluster y-axis: 3 alone survives; 4 orthogonal-ish to 1 in the
        # x cluster? (0.9, 0.44): cos(1,4)=0.9 -> dropped at thr 0.8
        rows = [
            (1, [1.0, 0.0]), (2, [0.99, 0.14]),
            (3, [0.0, 1.0]), (4, [0.9, 0.44]),
        ]
        d = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        kept = {r["vec_id"] for r in
                semantic_dedup(d, self._codebook(), threshold=0.8).collect()}
        assert kept == {1, 3}

    def test_cross_cluster_pairs_never_compared(self, spark):
        from datamancer_spark.operators.similarity import semantic_dedup

        # identical vectors but forced into different clusters survive
        rows = [(1, [1.0, 0.04]), (2, [0.04, 1.0])]
        d = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        kept = {r["vec_id"] for r in
                semantic_dedup(d, self._codebook(), threshold=0.0).collect()}
        assert kept == {1, 2}

    def test_cluster_profile(self, spark):
        from datamancer_spark.operators.similarity import ivf_cluster_profile

        rows = [(1, [1.0, 0.0]), (2, [1.0, 0.0]), (3, [0.0, 1.0])]
        d = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        out = {r["centroid"]: r for r in
               ivf_cluster_profile(d, self._codebook()).collect()}
        assert out[0]["n"] == 2 and out[1]["n"] == 1
        assert out[0]["mean_cos"] == 1.0 and out[1]["mean_cos"] == 1.0


class TestTrainHashedClassifier:
    """Scoring with a trained model's ``{bucket: weight}`` map; a fixed
    map stands in for the trained one."""

    def test_scoring_plan_stays_zero_shuffle_with_trained_weights(self, spark):
        from datamancer_spark.operators.classify import hashed_linear_score

        d = spark.createDataFrame(
            [(i, "alpha beta" if i % 2 else "gamma delta", i % 2)
             for i in range(20)],
            "doc_id long, text string, y int",
        )
        w = {b: (b % 7 - 3) / 3.0 for b in range(0, 64, 3)}
        p = _plan(hashed_linear_score(d, dim=64, weights=w, bias=0.25))
        assert "Exchange" not in p and "Python" not in p


class TestHashedEmbedding:
    def test_unit_norm_and_determinism(self, spark):
        import math
        from datamancer_spark.operators.similarity import hashed_embedding

        d = spark.createDataFrame(
            [(1, "alpha beta gamma delta"), (2, "alpha alpha alpha")],
            "doc_id long, text string",
        )
        a = {r["doc_id"]: r["embedding"]
             for r in hashed_embedding(d, dim=16).collect()}
        b = {r["doc_id"]: r["embedding"]
             for r in hashed_embedding(d, dim=16).collect()}
        assert a == b
        for v in a.values():
            assert abs(math.sqrt(sum(x * x for x in v)) - 1.0) < 1e-9

    def test_repeated_token_scales_component(self, spark):
        from datamancer_spark.operators.similarity import hashed_embedding

        d = spark.createDataFrame([(1, "alpha alpha alpha")],
                                  "doc_id long, text string")
        v = hashed_embedding(d, dim=16, normalize=False).collect()[0]["embedding"]
        nz = [x for x in v if x != 0.0]
        assert len(nz) == 1 and abs(abs(nz[0]) - 3.0) < 1e-9

    def test_feeds_ann_end_to_end(self, spark):
        from datamancer_spark.operators.similarity import (
            hashed_embedding,
            knn_bruteforce,
        )

        rows = [
            (1, "machine learning systems research papers"),
            (2, "machine learning systems research articles"),
            (3, "gardening tomatoes compost watering cans"),
        ]
        d = spark.createDataFrame(rows, "doc_id long, text string")
        emb = hashed_embedding(d, dim=32).withColumnRenamed("doc_id", "vec_id")
        q = emb.filter(F.col("vec_id") == 1)
        top = knn_bruteforce(emb, q, k=1).collect()[0]
        assert top["neighbor_id"] == 2  # near-paraphrase beats gardening

    def test_empty_docs_absent(self, spark):
        from datamancer_spark.operators.similarity import hashed_embedding

        d = spark.createDataFrame([(1, "words here"), (2, "  ")],
                                  "doc_id long, text string")
        ids = {r["doc_id"] for r in hashed_embedding(d).collect()}
        assert ids == {1}

    def test_semantic_text_dedup_composition(self, spark):
        import numpy as np
        from datamancer_spark.operators.similarity import (
            hashed_embedding,
            plane_matrix,
            semantic_dedup,
        )

        base = ("machine learning systems research papers about training "
                "large models on distributed clusters with parquet data")
        near = base.replace("papers", "articles")
        far = ("gardening tomatoes compost watering cans soil seeds "
               "sunlight pruning harvest baskets greenhouse beds")
        d = spark.createDataFrame(
            [(1, base), (2, near), (3, far)], "doc_id long, text string"
        )
        emb = hashed_embedding(d, dim=64)
        kept = semantic_dedup(
            emb, np.asarray(plane_matrix(4, 64, seed=7)),
            threshold=0.8, id_col="doc_id",
        )
        ids = {r["doc_id"] for r in kept.collect()}
        assert 1 in ids and 3 in ids
        assert 2 not in ids  # near-paraphrase of an earlier doc drops


class TestNullTextRobustness:
    """Real corpora carry NULL text; the shared canonicalizers
    (tokens/fingerprint/token_count) treat NULL as empty so size-of-NULL
    (-1) and md5(NULL) (vanishes from COUNT DISTINCT / anti-joins) can't
    poison any downstream operator."""

    def _d(self, spark):
        return spark.createDataFrame(
            [(1, "some actual words here"), (2, None)],
            "doc_id long, text string",
        )

    def test_chunking_emits_empty_chunk(self, spark):
        from datamancer_spark.operators.quality import chunk_documents

        rows = {r["doc_id"]: r for r in chunk_documents(self._d(spark)).collect()}
        assert rows[2]["n_chunk_tokens"] == 0 and rows[2]["chunk_text"] == ""

    def test_classifier_scores_null_as_empty(self, spark):
        from datamancer_spark.operators.classify import hashed_linear_score

        rows = {r["doc_id"]: r["score"]
                for r in hashed_linear_score(self._d(spark)).collect()}
        assert rows[2] == 0.5  # sigmoid(bias=0), same as an empty doc

    def test_corpus_health_counts_null_distinctly(self, spark):
        from pyspark.sql import functions as F
        from datamancer_spark.operators.quality import corpus_health

        d = self._d(spark).withColumn("lang", F.lit("en"))
        r = corpus_health(d).collect()[0]
        assert r["n_docs"] == 2 and r["n_distinct"] == 2
        assert r["dup_frac"] == 0.0 and r["mean_tokens"] == 2.0

    def test_fuzzy_dedup_passes_null_through(self, spark):
        from datamancer_spark.operators.dedup import fuzzy_dedup_against

        seen = spark.createDataFrame(
            [(9, "unrelated history doc")], "doc_id long, text string"
        )
        ids = {r["doc_id"]
               for r in fuzzy_dedup_against(self._d(spark), seen).collect()}
        assert ids == {1, 2}

    def test_null_embedding_rows_excluded_from_assignment(self, spark):
        import numpy as np
        from datamancer_spark.operators.similarity import ivf_assign

        emb = spark.createDataFrame(
            [(1, [1.0, 0.0]), (2, None)], "vec_id long, embedding array<double>"
        )
        out = ivf_assign(emb, np.array([[1.0, 0.0], [0.0, 1.0]]))
        assert [r["vec_id"] for r in out.collect()] == [1]

    def test_null_ts_rows_get_null_trailing_stats(self, spark):
        from datetime import datetime
        from datamancer_spark.operators.timeseries import trailing_window

        ev = spark.createDataFrame(
            [(1, datetime(2024, 1, 1, 10), 1, 1.0), (2, None, 1, 2.0)],
            "event_id long, ts timestamp, user_id long, value double",
        )
        rows = {r["event_id"]: (r["trailing_sum"], r["trailing_n"])
                for r in trailing_window(ev, "ts", ["user_id"], "value").collect()}
        assert rows[1] == (1.0, 1)
        assert rows[2] == (None, None)

    def test_null_vectors_excluded_from_knn_and_lsh(self, spark):
        from datamancer_spark.operators.similarity import (
            hyperplane_bits,
            knn_bruteforce,
        )

        emb = spark.createDataFrame(
            [(1, [1.0, 0.0]), (2, [0.9, 0.1]), (3, None)],
            "vec_id long, embedding array<double>",
        )
        q = emb.filter("vec_id = 1")
        got = knn_bruteforce(emb, q, k=5).collect()
        assert {r["neighbor_id"] for r in got} == {2}
        buckets = hyperplane_bits(emb, num_planes=4, dim=2)
        assert {r["vec_id"] for r in buckets.collect()} == {1, 2}

    def test_null_vectors_excluded_from_knn_ivf(self, spark):
        """A corpus row without a vector is no candidate (one Arrow
        batch holding it used to crash the centroid assignment)."""
        import numpy as np
        from datamancer_spark.operators.similarity import knn_ivf

        emb = spark.createDataFrame(
            [(1, [1.0, 0.0]), (2, [0.9, 0.1]), (3, None), (4, [0.0, 1.0])],
            "vec_id long, embedding array<double>",
        ).coalesce(1)
        q = emb.filter("vec_id = 1")
        codebook = np.array([[1.0, 0.0], [0.0, 1.0]])
        got = knn_ivf(emb, q, k=5, nprobe=2, codebook=codebook).collect()
        assert {r["neighbor_id"] for r in got} == {2, 4}
        assert all(r["cos"] is not None for r in got)

    def test_null_query_vectors_dropped_by_every_knn_tier(self, spark):
        """A query without a vector has no neighbours: every tier drops
        it, and the max_queries cap counts only queries with a vector."""
        import numpy as np
        from datamancer_spark.operators.similarity import (
            knn_bruteforce,
            knn_ivf,
            knn_lsh,
            knn_pq,
            pq_codebooks,
        )

        corpus = spark.createDataFrame(
            [(1, [1.0, 0.0]), (2, [0.9, 0.1]), (3, [0.0, 1.0])],
            "vec_id long, embedding array<double>",
        )
        # the NULL query first, in one partition, so no tier can get
        # past it by reading the other row first
        queries = spark.createDataFrame(
            [(11, None), (10, [1.0, 0.1])],
            "vec_id long, embedding array<double>",
        ).coalesce(1)
        codebook = np.array([[1.0, 0.0], [0.0, 1.0]])
        books = pq_codebooks(m=1, k=2, dim=2)
        tiers = {
            "brute": lambda q: knn_bruteforce(corpus, q, k=3, max_queries=1),
            "ivf": lambda q: knn_ivf(
                corpus, q, k=3, nprobe=2, codebook=codebook, max_queries=1
            ),
            "lsh": lambda q: knn_lsh(corpus, q, k=3, num_planes=1),
            "pq": lambda q: knn_pq(corpus, q, books, k=3, max_queries=1),
        }
        for name, run in tiers.items():
            got = run(queries).collect()
            assert {r["query_id"] for r in got} == {10}, name
            assert run(queries.filter("vec_id = 11")).collect() == [], name


class TestBloomPrescreen:
    """r10 Bloom tier: no false negatives ever, and the plan adds zero
    shuffles."""

    def _corpora(self, spark):
        seen = spark.createDataFrame(
            [(i, f"seen document number {i} about topic {i % 7}")
             for i in range(300)],
            "doc_id long, text string",
        )
        new = spark.createDataFrame(
            # 40 duplicates of seen docs + 160 novel docs
            [(1000 + i, f"seen document number {i} about topic {i % 7}")
             for i in range(40)]
            + [(2000 + i, f"novel document {i} on theme {i % 5}")
               for i in range(160)],
            "doc_id long, text string",
        )
        return seen, new

    def test_no_false_negatives(self, spark):
        from datamancer_spark.operators.dedup import (
            bloom_build,
            bloom_maybe_contains,
        )

        seen, new = self._corpora(spark)
        bits, k = 1 << 14, 5
        bloom = bloom_build(seen, "text", bits, k)
        probed = bloom_maybe_contains(new, bloom, "text", bits, k)
        flags = {r["doc_id"]: r["maybe_seen"] for r in probed.collect()}
        # every true duplicate MUST probe maybe (the bloom contract)
        assert all(flags[1000 + i] for i in range(40))
        # most novels probe definitely-not (fp rate small at this size)
        fp = sum(1 for i in range(160) if flags[2000 + i])
        assert fp <= 16, fp

    def test_probe_adds_no_shuffle(self, spark):
        from datamancer_spark.operators.dedup import (
            bloom_build,
            bloom_maybe_contains,
        )
        from datamancer_spark.plans import executed_plan

        from datamancer_spark.session import materialize

        seen, new = self._corpora(spark)
        # pin the (one-time, index-sized) filter build so the probe
        # plan is inspected alone — production persists the filter
        bloom = materialize(bloom_build(seen, "text", 1 << 14, 5))
        probed = bloom_maybe_contains(new, bloom, "text", 1 << 14, 5)
        plan = executed_plan(probed)
        # only broadcast exchanges (the k position sets); no hash
        # exchange anywhere on the probe lineage
        assert "Exchange hashpartitioning" not in plan, plan[:1500]
        assert plan.count("BroadcastHashJoin") == 5

    def test_null_text_probes_maybe(self, spark):
        """ADVICE r10 witness: a seen corpus whose only empty-doc
        representative has NULL text must still populate md5('') in the
        Bloom — under the old isNotNull pre-filter a new NULL/empty doc
        probed definitely-new (false negative)."""
        from datamancer_spark.operators.dedup import (
            bloom_build,
            bloom_maybe_contains,
        )

        seen = spark.createDataFrame(
            [(1, None), (2, "real seen doc")], "doc_id long, text string"
        )
        new = spark.createDataFrame(
            [(10, None), (11, ""), (12, "   "), (13, "novel doc")],
            "doc_id long, text string",
        )
        bits, k = 1 << 12, 4
        bloom = bloom_build(seen, "text", bits, k)
        flags = {
            r["doc_id"]: r["maybe_seen"]
            for r in bloom_maybe_contains(new, bloom, "text", bits, k)
            .collect()
        }
        # NULL, empty, and whitespace-only all share md5('') with the
        # seen NULL doc — all must probe maybe (no false negatives)
        assert flags[10] and flags[11] and flags[12], flags

    def test_hashed_path_filters_null_fingerprints(self, spark):
        """hashed=True means value_col holds fingerprints; a NULL there
        is an absent fingerprint, not a document — it must not explode
        into NULL positions."""
        from datamancer_spark.operators.dedup import bloom_build

        fps = spark.createDataFrame(
            [("d41d8cd98f00b204e9800998ecf8427e",), (None,)],
            "fp string",
        )
        rows = bloom_build(fps, "fp", 1 << 12, 4, hashed=True).collect()
        assert len(rows) == 4
        assert all(r["pos"] is not None for r in rows)

    def test_gated_query_contract_and_nontriviality(self, spark, sf_dir):
        """The driver-gated dedup_bloom_screened query (VERDICT r10
        #2): overlapping doc_id%4 snapshots make true cross-snapshot
        dups by construction; every one must probe maybe_seen (the
        contract_ok column is all-true), and at 2048 bits the filter
        is saturated enough that the flags are non-trivial (dups
        exist; on the larger scales false positives too)."""
        import __spark_entry__ as e
        from pyspark.sql import functions as F

        df = e.queries()["dedup_bloom_screened"](spark, sf_dir)
        agg = df.agg(
            F.count(F.lit(1)).alias("rows"),
            F.sum(F.col("is_seen_dup").cast("int")).alias("dups"),
            F.sum((~F.col("contract_ok")).cast("int")).alias("bad"),
        ).collect()[0]
        assert agg["bad"] == 0, "no-false-negative contract violated"
        assert agg["dups"] > 0, "fixture lost its cross-snapshot dups"
        assert 0 < agg["dups"] < agg["rows"]

    def test_merge_is_union_distinct(self, spark):
        from datamancer_spark.operators.dedup import (
            bloom_build,
            bloom_maybe_contains,
        )

        a = spark.createDataFrame([(1, "alpha"), (2, "beta")],
                                  "doc_id long, text string")
        b = spark.createDataFrame([(3, "gamma")],
                                  "doc_id long, text string")
        bits, k = 1 << 12, 4
        merged = (
            bloom_build(a, "text", bits, k)
            .unionByName(bloom_build(b, "text", bits, k))
            .distinct()
        )
        combined = bloom_build(a.unionByName(b), "text", bits, k)
        assert sorted(r["pos"] for r in merged.collect()) == sorted(
            r["pos"] for r in combined.collect()
        )
        probe = bloom_maybe_contains(
            a.unionByName(b), merged, "text", bits, k
        )
        assert all(r["maybe_seen"] for r in probe.collect())
