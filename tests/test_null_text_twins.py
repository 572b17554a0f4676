"""NULL-text differential guard (r4 ADVICE, medium): the Spark-side
canonicalizers coalesce NULL text to '' — the DuckDB oracle twins must
mirror that (`trim(coalesce(text, ''))`) or every fingerprint/token
statistic diverges the moment a real corpus carries NULL documents.
The driver's sf test data has no NULLs, so this builds a corpus WITH
them and runs representative text-tier twins through the exact
harness comparison."""

import os
import shutil
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

QUERIES = [
    "dedup_exact",
    "text_fingerprint",
    "text_quality",
    "corpus_health_report",
    "repetition_quality",
    # round-5 text-tier additions
    "duplicate_spans",
    "gopher_rule_filter",
    "dedup_keep_best",
    "zipf_corpus_fit",
    # round-6: destructive span removal + the full curation chain +
    # the pinned bigram LM must all survive NULL/empty docs
    "remove_dup_spans",
    "pipeline_curate_v2",
    "bigram_perplexity_proxy",
    # round-7: the new bm25 contract query
    "bm25_search_terms",
    # the count-model scorers: NB's prior-only arm for zero-token docs
    # and its NULL-label docs, DSIR dropping featureless docs
    "unigram_perplexity_proxy",
    "dsir_select_en",
    "nb_lang_classify",
    "tfidf_top_terms",
]


@pytest.fixture(scope="module")
def null_sf_dir(spark, sf_dir, tmp_path_factory):
    """sf0.001 with 5 NULL-text and 2 empty-string documents injected."""
    out = tmp_path_factory.mktemp("null_sf")
    from pyspark.sql import functions as F

    doc = spark.read.parquet(f"{sf_dir}/documents.parquet")
    cols = doc.columns
    base = doc.limit(200)
    mx = base.agg(F.max("doc_id")).collect()[0][0]
    extra = spark.createDataFrame(
        [(mx + 1 + i,) for i in range(7)], "doc_id long"
    )
    for c in cols:
        if c == "doc_id":
            continue
        if c == "text":
            extra = extra.withColumn(
                c,
                F.when(F.col("doc_id") % 7 < 5, F.lit(None)).otherwise(
                    F.lit("")
                ).cast("string"),
            )
        else:
            extra = extra.withColumn(c, F.lit(None).cast(dict(base.dtypes)[c]))
    base.unionByName(extra.select(cols)).coalesce(1).write.mode(
        "overwrite"
    ).parquet(str(out / "documents.parquet"))
    for t in ("events", "embeddings", "lineitem", "orders"):
        src = f"{sf_dir}/{t}.parquet"
        if os.path.exists(src):
            if os.path.isdir(src):
                shutil.copytree(src, str(out / f"{t}.parquet"))
            else:
                shutil.copy(src, str(out / f"{t}.parquet"))
    return str(out)


@pytest.mark.parametrize("name", QUERIES)
def test_twin_holds_with_null_text(spark, null_sf_dir, name):
    import duckdb

    import __spark_entry__ as entrymod
    from tests.oracle_harness import compare, risky_oracle_types

    con = duckdb.connect()
    for t in ("documents", "events", "embeddings"):
        p = f"{null_sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}/*.parquet')"
                if os.path.isdir(p)
                else f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')"
            )
    sql = entrymod.oracle_sql()[name]
    sdf = entrymod.queries()[name](spark, null_sf_dir)
    assert not risky_oracle_types(con, sql)
    cur = con.execute(sql)
    duck_cols = [d[0] for d in cur.description]
    duck_rows = cur.fetchall()
    ok, issues, ns, nd = compare(name, sdf, duck_rows, duck_cols)
    assert ok, f"{name}: {issues}"
