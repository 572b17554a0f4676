"""Count-min sketch (operators/sketch.py): the one-sided error
contract (est >= true, always), exactness without collisions,
mergeability (linear counters), and the εN error bound at the
textbook width."""

import pytest
from pyspark.sql import functions as F

from datamancer_spark.operators.sketch import (
    cms_build,
    cms_estimate,
    cms_merge,
)


def _freqs(spark, pairs):
    """(value, count) pairs -> one row per occurrence."""
    rows = [(v,) for v, n in pairs for _ in range(n)]
    return spark.createDataFrame(rows, "value string")


class TestCms:
    def test_never_underestimates_and_exact_without_collisions(self, spark):
        pairs = [(f"v{i}", 1 + i % 7) for i in range(40)]
        df = _freqs(spark, pairs)
        truth = dict(pairs)
        # wide sketch: 40 values over 4096 columns x 4 rows — the
        # chance ANY value collides in ALL rows is ~0, so estimates
        # are exact; narrow sketch (16 cols) must still never be low
        for width, exact in ((4096, True), (16, False)):
            sk = cms_build(df, width=width, depth=4)
            q = spark.createDataFrame(
                [(v,) for v in truth], "value string"
            )
            est = {
                r["value"]: r["est"]
                for r in cms_estimate(sk, q, width=width, depth=4).collect()
            }
            for v, n in truth.items():
                assert est[v] >= n, (width, v)
                if exact:
                    assert est[v] == n, (width, v)

    def test_merge_equals_combined_build(self, spark):
        a = _freqs(spark, [("x", 3), ("y", 2), ("z", 5)])
        b = _freqs(spark, [("x", 4), ("w", 1)])
        merged = cms_merge(
            cms_build(a, width=64, depth=3), cms_build(b, width=64, depth=3)
        )
        combined = cms_build(a.unionByName(b), width=64, depth=3)
        assert sorted(map(tuple, merged.collect())) == sorted(
            map(tuple, combined.collect())
        )
        q = spark.createDataFrame([("x",), ("w",)], "value string")
        est = {
            r["value"]: r["est"]
            for r in cms_estimate(merged, q, width=64, depth=3).collect()
        }
        assert est["x"] >= 7 and est["w"] >= 1

    def test_unseen_value_estimates_can_only_come_from_collisions(
        self, spark
    ):
        df = _freqs(spark, [("a", 10), ("b", 10)])
        sk = cms_build(df, width=4096, depth=4)
        q = spark.createDataFrame([("never-seen",)], "value string")
        est = cms_estimate(sk, q, width=4096, depth=4).collect()[0]["est"]
        assert est == 0  # wide sketch: no all-row collision

    def test_error_bound_on_corpus(self, spark, sf_dir):
        """Textbook bound: width w gives error ≤ (e/w)·N per estimate
        with prob 1−2^−depth per value; over the synthetic corpus's
        top tokens the max observed error must sit well inside a few
        multiples of N/w."""
        from datamancer_spark.operators.dedup import tokens

        doc = spark.read.parquet(f"{sf_dir}/documents.parquet")
        toks = doc.select(
            F.explode(tokens(F.col("text"))).alias("value")
        ).filter(F.length("value") > 0)
        truth = toks.groupBy("value").agg(
            F.count(F.lit(1)).cast("long").alias("n")
        )
        n_total = toks.count()
        width = 256
        sk = cms_build(truth, width=width, depth=4, weight_col="n")
        top = truth.orderBy(F.desc("n"), F.asc("value")).limit(50)
        est = cms_estimate(sk, top.select("value"), width=width, depth=4)
        joined = top.join(est, "value").collect()
        for r in joined:
            assert r["est"] >= r["n"]
            assert r["est"] - r["n"] <= 4 * n_total / width, (
                r["value"], r["est"], r["n"], n_total,
            )

    def test_weight_col_equals_occurrence_rows(self, spark):
        occ = _freqs(spark, [("p", 6), ("q", 2)])
        pre = spark.createDataFrame(
            [("p", 6), ("q", 2)], "value string, n long"
        )
        s1 = cms_build(occ, width=32, depth=2)
        s2 = cms_build(pre, width=32, depth=2, weight_col="n")
        assert sorted(map(tuple, s1.collect())) == sorted(
            map(tuple, s2.collect())
        )

    def test_nulls_excluded(self, spark):
        df = spark.createDataFrame(
            [("a",), (None,), ("a",)], "value string"
        )
        sk = cms_build(df, width=32, depth=2)
        total = sk.agg(F.sum("n")).collect()[0][0]
        assert total == 2 * 2  # two occurrences x depth rows


class TestHll:
    """Portable HyperLogLog (r11): register-frame semantics (max
    update, duplicate-free by construction), merge == whole-corpus
    build, accuracy within the published standard error, both
    estimator arms, and the guard rails."""

    def _vals(self, spark, n, dup=1):
        return spark.createDataFrame(
            [(f"item-{i % n}",) for i in range(n * dup)],
            "value string",
        )

    def test_duplicates_change_nothing(self, spark):
        from datamancer_spark.operators.sketch import hll_build

        once = sorted(
            tuple(r)
            for r in hll_build(self._vals(spark, 400, 1), "value")
            .collect()
        )
        thrice = sorted(
            tuple(r)
            for r in hll_build(self._vals(spark, 400, 3), "value")
            .collect()
        )
        assert once == thrice

    def test_merge_equals_whole(self, spark):
        from datamancer_spark.operators.sketch import (
            hll_build,
            hll_merge,
        )

        df = self._vals(spark, 1000)
        a = hll_build(df.filter(F.col("value") < "item-5"), "value")
        b = hll_build(df.filter(F.col("value") >= "item-5"), "value")
        merged = sorted(tuple(r) for r in hll_merge(a, b).collect())
        whole = sorted(
            tuple(r) for r in hll_build(df, "value").collect()
        )
        assert merged == whole

    def test_accuracy_within_error_band(self, spark):
        """p=8 → standard error ~6.5%; pin 4σ headroom on
        deterministic inputs (the estimate is a fixed number per
        cardinality — measured once, the bound just guards drift)."""
        from datamancer_spark.operators.sketch import (
            hll_build,
            hll_estimate,
        )

        for true_n in (300, 3000, 20000):
            regs = hll_build(self._vals(spark, true_n), "value")
            est = hll_estimate(regs).collect()[0]["est"]
            assert abs(est - true_n) / true_n < 0.26, (true_n, est)

    def test_small_range_arm_is_linear_counting(self, spark):
        """With far fewer values than registers the estimator must
        take the linear-counting arm: m·ln(m/V) with V the empty
        count — hand-computable from the register frame."""
        import math

        from datamancer_spark.operators.sketch import (
            hll_build,
            hll_estimate,
        )

        regs = hll_build(self._vals(spark, 25), "value")
        occupied = regs.count()
        est = hll_estimate(regs).collect()[0]["est"]
        want = 256 * math.log(256 / (256 - occupied))
        assert abs(est - want) < 1e-9

    def test_null_excluded_and_bad_p_rejected(self, spark):
        from datamancer_spark.operators.sketch import hll_build

        df = spark.createDataFrame(
            [("a",), (None,), ("b",)], "value string"
        )
        regs = hll_build(df, "value")
        assert regs.count() <= 2
        with pytest.raises(ValueError):
            hll_build(df, "value", p=2)

    def test_rank_arithmetic_matches_bit_definition(self, spark):
        """The portable rank must equal the textbook definition
        (leading zeros of the 52-bit suffix + 1), cross-checked in
        Python from the same md5 arithmetic."""
        import hashlib

        from datamancer_spark.operators.sketch import hll_build

        vals = [f"check-{i}" for i in range(50)]
        df = spark.createDataFrame([(v,) for v in vals], "value string")
        got = {
            r["register"]: r["rank"]
            for r in hll_build(df, "value").collect()
        }
        want: dict = {}
        for v in vals:
            h = int(hashlib.md5(f"hll{v}".encode()).hexdigest()[:15], 16)
            reg, w = h % 256, h >> 8
            rank = 53 - w.bit_length() if w else 53
            want[reg] = max(want.get(reg, 0), rank)
        assert got == want


def test_hll_estimate_empty_corpus_is_zero(spark):
    from datamancer_spark.operators.sketch import hll_build, hll_estimate

    empty = spark.createDataFrame([], "value string")
    est = hll_estimate(hll_build(empty, "value")).collect()[0]["est"]
    assert est == 0.0


class TestHistogram:
    def test_merge_equals_rebuild(self, spark, sf_dir):
        from datamancer_spark.operators.sketch import hist_build, hist_merge
        from pyspark.sql import functions as F

        ev = spark.read.parquet(f"{sf_dir}/events.parquet")
        parts = [
            hist_build(ev.filter(F.col("event_id") % 3 == i),
                       "value", 0.0, 500.0, 32)
            for i in range(3)
        ]
        merged = sorted(tuple(r) for r in hist_merge(*parts).collect())
        rebuilt = sorted(
            tuple(r)
            for r in hist_build(ev, "value", 0.0, 500.0, 32).collect()
        )
        assert merged == rebuilt

    def test_bin_edges_and_overflow(self, spark):
        from datamancer_spark.operators.sketch import hist_build

        df = spark.createDataFrame(
            [(-0.1,), (0.0,), (9.99,), (10.0,), (99.9,), (100.0,),
             (250.0,), (None,)],
            "value double",
        )
        got = {
            r["bin"]: r["n"]
            for r in hist_build(df, "value", 0.0, 100.0, 10).collect()
        }
        # -0.1 underflows; 0.0 and 9.99 share bin 0; 10.0 opens bin 1;
        # 99.9 is the last real bin; 100.0 and 250.0 overflow; NULL gone
        assert got == {-1: 1, 0: 2, 1: 1, 9: 1, 10: 2}

    def test_cdf_monotone_and_total(self, spark, sf_dir):
        from datamancer_spark.operators.sketch import hist_build, hist_cdf

        ev = spark.read.parquet(f"{sf_dir}/events.parquet")
        rows = (
            hist_cdf(hist_build(ev, "value", 0.0, 500.0, 16))
            .orderBy("bin")
            .collect()
        )
        cums = [r["cum_n"] for r in rows]
        assert cums == sorted(cums)
        assert abs(rows[-1]["cum_frac"] - 1.0) < 1e-12
        assert rows[-1]["cum_n"] == sum(r["n"] for r in rows)

    def test_rejects_empty_range(self, spark):
        import pytest as _pytest

        from datamancer_spark.operators.sketch import hist_build

        df = spark.createDataFrame([(1.0,)], "value double")
        with _pytest.raises(ValueError):
            hist_build(df, "value", 5.0, 5.0, 10)


class TestHistDrift:
    def test_identical_distributions_zero_drift(self, spark, sf_dir):
        from datamancer_spark.operators.sketch import (
            hist_build_by,
            hist_drift,
        )

        doc = spark.read.parquet(f"{sf_dir}/documents.parquet")
        h = hist_build_by(doc, "n_chars", ["lang"], 0.0, 600.0, 16)
        d = hist_drift(h, h, ["lang"])
        assert all(r["tvd"] == 0.0 for r in d.collect())

    def test_disjoint_distributions_full_drift(self, spark):
        from datamancer_spark.operators.sketch import (
            hist_build_by,
            hist_drift,
        )

        lo = spark.createDataFrame(
            [("en", float(v)) for v in range(10)], "lang string, v double"
        )
        hi = spark.createDataFrame(
            [("en", float(v)) for v in range(50, 60)],
            "lang string, v double",
        )
        a = hist_build_by(lo, "v", ["lang"], 0.0, 100.0, 10)
        b = hist_build_by(hi, "v", ["lang"], 0.0, 100.0, 10)
        row = hist_drift(a, b, ["lang"]).first()
        assert row["tvd"] == 1.0

    def test_known_half_overlap(self, spark):
        """a = 4 rows in bin0; b = 2 rows bin0 + 2 rows bin5 →
        TVD = (|1 - 1/2| + |0 - 1/2|)/2 = 1/2."""
        from datamancer_spark.operators.sketch import (
            hist_build_by,
            hist_drift,
        )

        a = spark.createDataFrame(
            [("x", 1.0)] * 4, "g string, v double"
        )
        b = spark.createDataFrame(
            [("x", 1.0)] * 2 + [("x", 55.0)] * 2, "g string, v double"
        )
        ha = hist_build_by(a, "v", ["g"], 0.0, 100.0, 10)
        hb = hist_build_by(b, "v", ["g"], 0.0, 100.0, 10)
        row = hist_drift(ha, hb, ["g"]).first()
        assert row["tvd"] == 0.5
        assert (row["n_a"], row["n_b"]) == (4, 4)

    def test_one_sided_group_is_full_drift_not_null(self, spark):
        """Review r14: a group present in only ONE snapshot is total
        drift (TVD=1) — the naive division yields NULL, which a
        tvd > threshold alert silently drops."""
        from datamancer_spark.operators.sketch import (
            hist_build_by,
            hist_drift,
        )

        a = spark.createDataFrame(
            [("en", 1.0), ("de", 2.0)], "g string, v double"
        )
        b = spark.createDataFrame([("en", 1.0)], "g string, v double")
        ha = hist_build_by(a, "v", ["g"], 0.0, 10.0, 5)
        hb = hist_build_by(b, "v", ["g"], 0.0, 10.0, 5)
        got = {r["g"]: r["tvd"] for r in hist_drift(ha, hb, ["g"]).collect()}
        assert got["de"] == 1.0
        assert got["en"] == 0.0


class TestHistMergeGrouped:
    def test_grouped_merge_preserves_groups(self, spark):
        """ADVICE r14: hist_merge on hist_build_by outputs must merge
        PER GROUP (group columns derived from the sketch schema), not
        collapse every group into one histogram."""
        from datamancer_spark.operators.sketch import (
            hist_build_by,
            hist_merge,
        )

        a = spark.createDataFrame(
            [("en", 1.0), ("en", 1.5), ("de", 8.0)], "g string, v double"
        )
        b = spark.createDataFrame(
            [("en", 1.2), ("de", 8.5), ("fr", 4.0)], "g string, v double"
        )
        ha = hist_build_by(a, "v", ["g"], 0.0, 10.0, 10)
        hb = hist_build_by(b, "v", ["g"], 0.0, 10.0, 10)
        merged = hist_merge(ha, hb)
        assert set(merged.columns) == {"g", "bin", "n"}
        rebuilt = hist_build_by(a.unionByName(b), "v", ["g"], 0.0, 10.0, 10)
        got = {(r["g"], r["bin"]): r["n"] for r in merged.collect()}
        want = {(r["g"], r["bin"]): r["n"] for r in rebuilt.collect()}
        assert got == want
        # three distinct groups survive the merge
        assert {g for g, _ in got} == {"en", "de", "fr"}

    def test_merge_rejects_sketch_without_bin(self, spark):
        from datamancer_spark.operators.sketch import hist_merge

        bogus = spark.createDataFrame([(1, 2)], "x int, n long")
        import pytest as _pytest

        with _pytest.raises(ValueError, match="bin"):
            hist_merge(bogus)


class TestRankSketch:
    """Deterministic hash-threshold Bernoulli rank sketch (r15) — the
    mergeable quantile member of the sketch family (VERDICT r14 #6)."""

    def _docs(self, spark, sf_dir):
        return spark.read.parquet(f"{sf_dir}/lineitem.parquet")

    def test_merge_equals_rebuild_heterogeneous_rates(self, spark, sf_dir):
        from datamancer_spark.operators.sketch import (
            rank_sketch_build,
            rank_sketch_merge,
        )

        li = self._docs(spark, sf_dir)
        a = li.filter(F.col("l_orderkey") % 2 == 0)
        b = li.filter(F.col("l_orderkey") % 2 == 1)
        keys = ["l_orderkey", "l_linenumber"]
        sa = rank_sketch_build(a, "l_extendedprice", keys, rate_exp=4)
        sb = rank_sketch_build(b, "l_extendedprice", keys, rate_exp=6)
        merged = rank_sketch_merge(sa, sb)
        rebuilt = rank_sketch_build(li, "l_extendedprice", keys, rate_exp=6)
        got = sorted(
            (r["value"], r["h"], r["rate_exp"]) for r in merged.collect()
        )
        want = sorted(
            (r["value"], r["h"], r["rate_exp"]) for r in rebuilt.collect()
        )
        assert got == want and len(got) > 0

    def test_partition_invariance(self, spark, sf_dir):
        from datamancer_spark.operators.sketch import rank_sketch_build

        li = self._docs(spark, sf_dir)
        keys = ["l_orderkey", "l_linenumber"]
        s1 = rank_sketch_build(li, "l_extendedprice", keys, rate_exp=5)
        s2 = rank_sketch_build(
            li.repartition(7, "l_partkey"), "l_extendedprice", keys, rate_exp=5
        )
        assert sorted(map(tuple, s1.collect())) == sorted(
            map(tuple, s2.collect())
        )

    def test_quantiles_within_rank_bound(self, spark, sf_dir):
        from datamancer_spark.operators.sketch import (
            rank_sketch_build,
            rank_sketch_quantiles,
        )

        li = self._docs(spark, sf_dir)
        n = li.count()
        keys = ["l_orderkey", "l_linenumber"]
        sk = rank_sketch_build(li, "l_extendedprice", keys, rate_exp=5)
        est = {
            r["p"]: r["value_est"]
            for r in rank_sketch_quantiles(sk, [0.25, 0.5, 0.9]).collect()
        }
        bound = 4.0 * (n * 32) ** 0.5
        for p, v in est.items():
            exact_rank = li.filter(F.col("l_extendedprice") <= v).count()
            assert abs(exact_rank - p * n) <= bound, (p, exact_rank, p * n)

    def test_grouped_build_and_quantiles(self, spark):
        from datamancer_spark.operators.sketch import (
            rank_sketch_build,
            rank_sketch_quantiles,
        )

        rows = [("a", i, float(i)) for i in range(2000)] + [
            ("b", i, float(2 * i)) for i in range(2000)
        ]
        df = spark.createDataFrame(rows, "g string, k long, v double")
        sk = rank_sketch_build(df, "v", ["g", "k"], 3, group_cols=["g"])
        q = rank_sketch_quantiles(sk, [0.5], group_cols=["g"])
        got = {r["g"]: r["value_est"] for r in q.collect()}
        assert abs(got["a"] - 1000) < 350
        assert abs(got["b"] - 2000) < 700

    def test_validation(self, spark):
        import pytest as _pytest

        from datamancer_spark.operators.sketch import (
            rank_sketch_build,
            rank_sketch_merge,
        )

        df = spark.createDataFrame([(1, 1.0)], "k long, v double")
        with _pytest.raises(ValueError, match="rate_exp"):
            rank_sketch_build(df, "v", ["k"], rate_exp=60)
        with _pytest.raises(ValueError, match="key_cols"):
            rank_sketch_build(df, "v", [], rate_exp=5)
        with _pytest.raises(ValueError, match="rank sketch"):
            rank_sketch_merge(df)


class TestWeightedRankSketch:
    def test_weighted_quantile_exact_at_rate_zero(self, spark):
        """rate_exp=0 keeps every row, so the weighted sketch quantile
        IS the exact weighted quantile — pins the cum-weight rule."""
        from datamancer_spark.operators.sketch import (
            rank_sketch_build,
            rank_sketch_quantiles,
        )

        # values 1..4 with weights 1,1,6,2 (W=10): p50 -> first value
        # whose cum weight >= 5 is 3; p90 -> cum >= 9 is 4
        rows = [(1, 1.0, 1), (2, 2.0, 1), (3, 3.0, 6), (4, 4.0, 2)]
        df = spark.createDataFrame(rows, "k long, v double, w long")
        sk = rank_sketch_build(df, "v", ["k"], 0, weight_col="w")
        got = {
            r["p"]: (r["value_est"], r["m"])
            for r in rank_sketch_quantiles(sk, [0.5, 0.9]).collect()
        }
        assert got[0.5] == (3.0, 10)
        assert got[0.9] == (4.0, 10)

    def test_weighted_merge_equals_rebuild(self, spark, sf_dir):
        from datamancer_spark.operators.sketch import (
            rank_sketch_build,
            rank_sketch_merge,
        )

        li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        keys = ["l_orderkey", "l_linenumber"]
        a = li.filter(F.col("l_orderkey") % 2 == 0)
        b = li.filter(F.col("l_orderkey") % 2 == 1)
        sa = rank_sketch_build(
            a, "l_extendedprice", keys, 4, weight_col="l_quantity"
        )
        sb = rank_sketch_build(
            b, "l_extendedprice", keys, 6, weight_col="l_quantity"
        )
        merged = rank_sketch_merge(sa, sb)
        rebuilt = rank_sketch_build(
            li, "l_extendedprice", keys, 6, weight_col="l_quantity"
        )
        assert sorted(map(tuple, merged.collect())) == sorted(
            map(tuple, rebuilt.collect())
        )



def test_rank_sketch_mixed_rate_union_scales_per_row(spark):
    """Review r15: a raw unionByName of different-rate sketches (that
    skipped rank_sketch_merge) must scale each row by ITS OWN
    2^rate_exp — uniform max-rate scaling over-counted fine-rate rows
    16x. Rate 0 keeps everything, so exact expectations exist."""
    from datamancer_spark.operators.sketch import (
        rank_sketch_build,
        rank_sketch_quantiles,
    )

    a = spark.createDataFrame(
        [(i, float(i)) for i in range(100)], "k long, v double"
    )
    b = spark.createDataFrame(
        [(i, float(i)) for i in range(100, 200)], "k long, v double"
    )
    sa = rank_sketch_build(a, "v", ["k"], 0)  # every row, mass 1
    sb = rank_sketch_build(b, "v", ["k"], 2)  # ~1/4 rows, mass 4 each
    mixed = sa.unionByName(sb)
    # total effective mass = 100 + 4 * |kept from b|; p=0.25 boundary
    # sits inside a's run because a carries exactly 100 of ~200 mass
    nb = sb.count()
    q = {
        r["p"]: r["value_est"]
        for r in rank_sketch_quantiles(mixed, [0.25]).collect()
    }
    total = 100 + 4 * nb
    # cum mass inside a's [0,100) run is (value+1)*1, so the exact
    # 0.25-quantile is the first v with v+1 >= total/4
    import math

    want = float(math.ceil(total * 0.25) - 1)
    assert q[0.25] == want, (q[0.25], want, total)
