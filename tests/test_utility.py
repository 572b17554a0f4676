"""Utility/introspection surface (SURVEY §2.11) + io constructors."""

import pytest
from pyspark.sql import functions as F

from datamancer_spark import (
    add_row,
    col_max,
    col_min,
    evaluate,
    frames_equal,
    groups_iter,
    parse_csv_string,
    reduce_formula,
    str_tab_to_df,
    to_df,
)
from tests.conftest import rows_set


@pytest.fixture(scope="module")
def mini(spark):
    return to_df({"x": [1, 2, 3], "g": ["a", "a", "b"]}, spark)


def test_evaluate_and_reduce(spark, mini):
    out = evaluate(F.col("x") * 10, mini)
    assert sorted(r[0] for r in out.collect()) == [10, 20, 30]
    assert reduce_formula(F.sum("x"), mini) == 6


def test_col_min_max_inf_ignoring(spark):
    d = to_df({"x": [1.0, float("inf"), -5.0, float("-inf")]}, spark)
    assert col_min(d, "x") == -5.0
    assert col_max(d, "x") == 1.0
    assert col_max(d, "x", ignore_inf=False) == float("inf")


def test_frames_equal(spark, mini):
    reordered = mini.arrange("x", ascending=False).select("g", "x")
    assert frames_equal(mini, reordered)
    assert not frames_equal(mini, mini.filter(F.col("x") > 1))


def test_add_row(spark, mini):
    out = add_row(mini, x=9, g="z")
    assert out.count_rows() == 4
    assert ("z",) in {(r["g"],) for r in out.collect()}


def test_groups_iter(spark, mini):
    got = {}
    for labels, sub in groups_iter(mini.group_by("g")):
        got[labels] = sorted(r["x"] for r in sub.collect())
    assert got == {("a",): [1, 2], ("b",): [3]}


def test_groups_iter_requires_grouping(mini):
    with pytest.raises(ValueError):
        next(groups_iter(mini))


def test_cast_column(spark):
    d = to_df({"x": ["1", "2", "oops"]}, spark)
    out = d.cast_column("x", "long")
    assert [r["x"] for r in out.arrange("x").collect()] == [None, 1, 2]
    with pytest.raises(ValueError):
        d.cast_column("x", "long", strict=True)


def test_getitem_column(mini):
    assert rows_set(mini.select(mini["x"] * 2).df) == [(2,), (4,), (6,)]


def test_parse_csv_string(spark):
    frame = parse_csv_string(spark, "a,b\n1,x\n2,y\n")
    assert rows_set(frame.df) == [(1, "x"), (2, "y")]


def test_str_tab_to_df_parse_ladder(spark):
    frame = str_tab_to_df(
        spark, {"i": ["1", "2"], "f": ["1.5", "2"], "s": ["a", "b"]}
    )
    types = dict(frame.df.dtypes)
    assert types == {"i": "bigint", "f": "double", "s": "string"}


class TestStatsOperators:
    def test_corr_matrix_known_values(self, spark):
        from datamancer_spark.operators.stats import corr_matrix

        rows = [(float(i), 2.0 * i, float(-i)) for i in range(10)]
        df = spark.createDataFrame(rows, "x double, y double, z double")
        out = {(r["col_a"], r["col_b"]): r["corr"]
               for r in corr_matrix(df, ["x", "y", "z"]).collect()}
        assert out[("x", "y")] == 1.0
        assert out[("x", "z")] == -1.0
        assert len(out) == 3

    def test_corr_matrix_single_pass(self, spark, sf_dir):
        from datamancer_spark.operators.stats import corr_matrix
        from datamancer_spark.plans import executed_plan, has_partial_aggregation

        li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        q = corr_matrix(li, ["l_quantity", "l_extendedprice", "l_tax"])
        plan = executed_plan(q)
        assert plan.count("FileScan parquet") == 1
        assert has_partial_aggregation(q)

    def test_corr_matrix_needs_two(self, spark):
        import pytest as _pytest

        from datamancer_spark.operators.stats import corr_matrix

        df = spark.range(3)
        with _pytest.raises(ValueError):
            corr_matrix(df, ["id"])

    def test_describe_columns(self, spark):
        from datamancer_spark.operators.stats import describe_columns

        df = spark.createDataFrame(
            [(1.0,), (2.0,), (3.0,), (None,)], "v double"
        )
        r = describe_columns(df, ["v"]).collect()[0]
        assert r["n"] == 3 and r["n_null"] == 1
        assert r["mean"] == 2.0 and r["min"] == 1.0 and r["max"] == 3.0
        assert r["std"] == 1.0  # sample stddev of 1,2,3


class TestCheckRules:
    def test_violations_and_nulls(self, spark):
        from pyspark.sql import functions as F

        from datamancer_spark.operators.validate import check_rules

        df = spark.createDataFrame(
            [(1, 5.0), (2, 50.0), (3, None), (1, 7.0)], "k long, v double"
        )
        out = {r["rule"]: r for r in check_rules(
            df,
            rules={"v_small": F.col("v") < 10},
            unique={"k_unique": ["k"]},
        ).collect()}
        # v=50 violates; v=NULL counts as violation too
        assert out["v_small"]["n_violations"] == 2
        assert not out["v_small"]["pass"]
        # k=1 appears twice -> 1 row beyond first
        assert out["k_unique"]["n_violations"] == 1
        assert out["k_unique"]["n_rows"] == 4

    def test_all_pass(self, spark):
        from pyspark.sql import functions as F

        from datamancer_spark.operators.validate import check_rules

        df = spark.range(10)
        out = check_rules(df, rules={"nonneg": F.col("id") >= 0}).collect()
        assert out[0]["pass"] and out[0]["n_violations"] == 0

    def test_empty_rules_raise(self, spark):
        import pytest as _pytest

        from datamancer_spark.operators.validate import check_rules

        with _pytest.raises(ValueError):
            check_rules(spark.range(1), rules={})


class TestGroupedLinfit:
    def test_exact_line_recovered(self, spark):
        from datamancer_spark.operators.stats import grouped_linfit

        rows = [("g", float(x), 3.0 * x + 7.0) for x in range(10)]
        rows += [("h", float(x), -2.0 * x + 1.0) for x in range(5)]
        df = spark.createDataFrame(rows, "grp string, x double, y double")
        out = {r["grp"]: r for r in
               grouped_linfit(df, ["grp"], "x", "y").collect()}
        assert out["g"]["slope"] == 3.0 and out["g"]["intercept"] == 7.0
        assert out["g"]["r2"] == 1.0
        assert out["h"]["slope"] == -2.0

    def test_zero_variance_gives_null(self, spark):
        from datamancer_spark.operators.stats import grouped_linfit

        df = spark.createDataFrame(
            [("g", 1.0, 2.0), ("g", 1.0, 5.0)], "grp string, x double, y double"
        )
        r = grouped_linfit(df, ["grp"], "x", "y").collect()[0]
        assert r["slope"] is None and r["r2"] is None

    def test_nulls_excluded(self, spark):
        from datamancer_spark.operators.stats import grouped_linfit

        df = spark.createDataFrame(
            [("g", 0.0, 0.0), ("g", 1.0, 2.0), ("g", None, 9.0), ("g", 2.0, None)],
            "grp string, x double, y double",
        )
        r = grouped_linfit(df, ["grp"], "x", "y").collect()[0]
        assert r["n"] == 2 and r["slope"] == 2.0
