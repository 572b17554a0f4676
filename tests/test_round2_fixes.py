"""Round-2 fix pins: bit-stability, error routing, null-keyed groups,
rename atomicity, scale-path plans (IVF sampling, minhash checkpoint,
bucketed embedding dedup), and the §2 stragglers (valTabToDf,
showBrowser, struct-column mapping)."""

import datetime

import pytest
from pyspark.errors import AnalysisException
from pyspark.sql import functions as F

from datamancer_spark import DamFrame, to_df, val_tab_to_df
from tests.conftest import rows_set


@pytest.fixture(scope="module")
def mini(spark):
    return to_df(
        {
            "x": [1, 2, 3, 4, 5, 6],
            "y": [10.0, 20.0, 30.0, 40.0, 50.0, 60.0],
            "g": ["a", "a", "b", "b", "b", "c"],
        },
        spark,
    )


# -- sessionization precision (ADVICE: sub-second gaps) ----------------------


def test_sessionize_subsecond_gap(spark):
    from datamancer_spark.operators.sessions import sessionize

    base = datetime.datetime(2024, 1, 1, 12, 0, 0)
    rows = [
        (1, base, 1),
        # 1800.5s later: with whole-second truncation this computes as a
        # 1800s gap and would NOT open a session — native precision must
        (1, base + datetime.timedelta(seconds=1800, milliseconds=500), 2),
        # exactly 1800.0s later: not > gap, same session
        (1, base + datetime.timedelta(seconds=3600, milliseconds=500), 3),
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp, event_id long")
    out = sessionize(df, "ts", ["user_id"], gap_seconds=1800, order_by=["event_id"])
    got = {r["event_id"]: r["session_idx"] for r in out.collect()}
    assert got == {1: 0, 2: 1, 3: 1}


def test_session_stats_exact_cents(spark):
    from datamancer_spark.operators.sessions import session_stats

    base = datetime.datetime(2024, 1, 1)
    rows = [
        (1, base + datetime.timedelta(seconds=i), i, 0.1) for i in range(10)
    ]
    df = spark.createDataFrame(
        rows, "user_id long, ts timestamp, event_id long, value double"
    )
    out = session_stats(
        df, "ts", ["user_id"], value_col="value",
        order_by=["event_id"], exact_cents=True,
    ).collect()
    assert len(out) == 1
    # 10 × 0.1 sums to exactly 1.0 in cents; a float sum gives 0.9999…
    assert out[0]["total_value"] == 1.0


# -- error routing (ADVICE: narrow except) -----------------------------------


def test_mutate_typo_raises_clearly(mini):
    with pytest.raises(AnalysisException) as ei:
        mini.mutate(bad=F.col("no_such_col") + 1)
    assert "no_such_col" in str(ei.value)


def test_grouped_mutate_typo_raises_clearly(mini):
    with pytest.raises(AnalysisException) as ei:
        mini.group_by("g").mutate(bad=F.col("no_such_col") + 1)
    assert "no_such_col" in str(ei.value)


def test_filter_typo_raises_clearly(mini):
    with pytest.raises(AnalysisException) as ei:
        mini.group_by("g").filter(F.col("no_such_col") > 1)
    assert "no_such_col" in str(ei.value)


def test_masked_assign_typo_raises_clearly(mini):
    with pytest.raises(AnalysisException) as ei:
        mini.masked_assign("y", F.col("no_such_col") > 1, 0.0)
    assert "no_such_col" in str(ei.value)


def test_grouped_reductions_still_rewrite(mini):
    # the narrowed except must still route genuine reducing expressions
    out = mini.group_by("g").mutate(n=F.count(F.lit(1))).ungroup()
    assert "n" in out.columns
    assert out.df.filter(F.col("n").isNull()).isEmpty()


# -- NULL group keys (ADVICE: null-safe join-back) ---------------------------


@pytest.fixture()
def null_keyed(spark):
    return DamFrame(
        spark.createDataFrame(
            [("a", 1.0), ("a", 3.0), (None, 10.0), (None, 30.0)],
            "k string, v double",
        )
    )


def test_grouped_mutate_null_key_group(null_keyed):
    out = null_keyed.group_by("k").mutate(avg_v=F.avg("v")).ungroup()
    got = {(r["k"], r["v"]): r["avg_v"] for r in out.collect()}
    # the NULL-keyed group must receive ITS aggregate, not NULL
    assert got[(None, 10.0)] == 20.0
    assert got[(None, 30.0)] == 20.0
    assert got[("a", 1.0)] == 2.0


def test_grouped_filter_null_key_group(null_keyed):
    out = null_keyed.group_by("k").filter(F.avg("v") > 5).ungroup()
    rows = rows_set(out.df)
    # only the NULL group (avg 20) passes; it must NOT be dropped by the
    # semi-join
    assert rows == [(None, 10.0), (None, 30.0)]


def test_grouped_mutate_overwrites_existing_column(null_keyed):
    out = null_keyed.group_by("k").mutate(v=F.avg("v")).ungroup()
    assert sorted(r["v"] for r in out.collect()) == [2.0, 2.0, 20.0, 20.0]


# -- rename atomicity (ADVICE) -----------------------------------------------


def test_rename_swap(spark):
    d = to_df({"x": [1, 2], "y": [10, 20]}, spark)
    out = d.rename(x="y", y="x")
    assert out.columns == ["y", "x"]
    assert sorted(r["y"] for r in out.collect()) == [1, 2]
    assert sorted(r["x"] for r in out.collect()) == [10, 20]


def test_rename_chain_no_collision(spark):
    d = to_df({"a": [1], "b": [2]}, spark)
    out = d.rename(b="a", c="b")  # a->b, b->c resolved against originals
    assert out.columns == ["b", "c"]
    assert out.collect()[0]["b"] == 1
    assert out.collect()[0]["c"] == 2


def test_rename_keeps_group_keys(spark):
    d = to_df({"a": [1], "b": [2]}, spark).group_by("a")
    assert d.rename(z="a").group_keys == ("z",)


# -- embedding dedup: bucketed scale path ------------------------------------


def test_embedding_bucketed_subset_and_recall(spark, sf_dir):
    from datamancer_spark.operators.dedup import (
        embedding_dedup_bucketed,
        embedding_dedup_pairs,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    exact = {
        (r["id_a"], r["id_b"]): r["cos"]
        for r in embedding_dedup_pairs(emb, threshold=0.35).collect()
    }
    approx = {
        (r["id_a"], r["id_b"]): r["cos"]
        for r in embedding_dedup_bucketed(
            emb, threshold=0.35, num_planes=4, multiprobe=1
        ).collect()
    }
    assert exact, "fixture should contain near-dup pairs at 0.35"
    # precision 1: every bucketed pair is an exact pair with the same cos
    for pair, cos in approx.items():
        assert pair in exact
        assert cos == exact[pair]
    # recall: multiprobe-1 over 4 planes must find a healthy majority
    assert len(approx) / len(exact) >= 0.6


def test_embedding_bucketed_no_cartesian(spark, sf_dir):
    from datamancer_spark.operators.dedup import embedding_dedup_bucketed
    from datamancer_spark.plans import executed_plan

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    plan = executed_plan(
        embedding_dedup_bucketed(emb, threshold=0.35, num_planes=4)
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


# -- IVF codebook sampling (VERDICT: no full-corpus TakeOrdered) -------------


def test_knn_ivf_precomputed_codebook(spark, sf_dir):
    import numpy as np

    from datamancer_spark.operators.similarity import knn_ivf, plane_matrix

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 3)
    # any deterministic (num_centroids × dim) matrix works as a codebook
    codebook = plane_matrix(8, 64, seed=7)
    out = knn_ivf(emb, queries, k=5, nprobe=8, codebook=np.asarray(codebook))
    rows = out.collect()
    assert rows
    assert all(r["rank"] <= 5 for r in rows)
    assert all(r["query_id"] != r["neighbor_id"] for r in rows)


def test_knn_ivf_source_has_no_corpus_orderby():
    # regression pin for the sampling strategy itself: the codebook
    # trainer must not sort the corpus (orderBy + limit = TakeOrdered
    # over every row at 100 TB)
    import inspect

    from datamancer_spark.operators import similarity

    # the sampling lives in train_codebook, which knn_ivf calls; the
    # corpus itself must never be sorted for sampling
    src = inspect.getsource(similarity.train_codebook)
    assert "orderBy(F.abs" not in src
    assert ".sample(" in src


# -- minhash verified: candidate checkpoint (VERDICT: 22 scans → few) --------


def test_minhash_verified_scan_budget(spark, sf_dir):
    from datamancer_spark.operators.dedup import minhash_dedup_verified
    from datamancer_spark.plans import executed_plan

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    plan = executed_plan(minhash_dedup_verified(docs, threshold=0.5))
    n_scans = plan.count("Scan parquet")
    assert n_scans <= 8, f"candidate re-execution regressed: {n_scans} scans"


# -- §2 stragglers -----------------------------------------------------------


def test_val_tab_to_df_promotion_ladder(spark):
    out = val_tab_to_df(
        spark,
        {
            "i": [1, 2, 3],
            "f": [1, 2.5, 3],
            "s": [1, "two", 3.0],
            "b": [True, False, None],
        },
    )
    types = dict(out.df.dtypes)
    assert types == {"i": "bigint", "f": "double", "s": "string", "b": "boolean"}
    assert sorted(r["s"] for r in out.collect()) == ["1", "3.0", "two"]


def test_val_tab_to_df_ragged_pads_null(spark):
    out = val_tab_to_df(spark, {"a": [1, 2, 3], "b": [10]})
    rows = rows_set(out.df)
    assert rows == [(1, 10), (2, None), (3, None)]


def test_show_browser_writes_html(spark, tmp_path):
    from datamancer_spark import show_browser

    d = to_df({"x": [1, 2]}, spark)
    path = show_browser(d, n=10)
    with open(path, encoding="utf-8") as f:
        html = f.read()
    assert "<table" in html


def test_struct_column_mapping(spark):
    """defColumn/colGeneric (ref column.nim:207-224) maps to Spark struct
    columns: user-defined compound types are structs, accessed with
    dotted paths and rebuilt with F.struct — no engine extension needed."""
    d = to_df({"id": [1, 2]}, spark).mutate(
        point=F.struct(
            (F.col("id") * 1.0).alias("x"), (F.col("id") * 2.0).alias("y")
        )
    )
    assert dict(d.df.dtypes)["point"] == "struct<x:double,y:double>"
    out = d.mutate(mag=F.sqrt(F.col("point.x") ** 2 + F.col("point.y") ** 2))
    got = {r["id"]: r["mag"] for r in out.collect()}
    assert got[1] == pytest.approx(5**0.5)
    # structs round-trip through group/agg like any other column
    agg = d.group_by("id").summarize(p=F.first("point"))
    assert dict(agg.df.dtypes)["p"].startswith("struct")
