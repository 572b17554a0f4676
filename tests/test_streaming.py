"""Structured Streaming helpers driven end-to-end with a file source and
memory sink (deterministic: processAllAvailable)."""

import json
import os
import tempfile

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType, StringType, StructField, StructType, TimestampType,
)

SCHEMA = StructType(
    [
        StructField("ts", TimestampType()),
        StructField("user", StringType()),
        StructField("text", StringType()),
        StructField("value", DoubleType()),
    ]
)


def _write_batch(d, name, rows):
    with open(os.path.join(d, name), "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")


@pytest.fixture()
def stream_dir():
    with tempfile.TemporaryDirectory() as d:
        _write_batch(
            d,
            "b0.json",
            [
                {"ts": "2024-01-01T00:05:00", "user": "u1", "text": "hello world", "value": 1.0},
                {"ts": "2024-01-01T00:20:00", "user": "u1", "text": "hello world", "value": 2.0},
                {"ts": "2024-01-01T01:10:00", "user": "u2", "text": "other doc", "value": 3.0},
            ],
        )
        yield d


def test_tumbling_agg(spark, stream_dir):
    from datamancer_spark.streaming import read_json_stream, run_to_memory, tumbling_agg

    stream = read_json_stream(spark, stream_dir, SCHEMA)
    res = tumbling_agg(
        stream, "ts", window="1 hour", keys=("user",), n=F.count(F.lit(1)),
        total=F.sum("value"),
    )
    q = run_to_memory(res, "tumble_t")
    try:
        rows = {
            (str(r["bucket"]), r["user"]): (r["n"], r["total"])
            for r in spark.sql("SELECT * FROM tumble_t").collect()
        }
        assert rows[("2024-01-01 00:00:00", "u1")] == (2, 3.0)
        assert rows[("2024-01-01 01:00:00", "u2")] == (1, 3.0)
    finally:
        q.stop()


def test_streaming_dedup(spark, stream_dir):
    from datamancer_spark.streaming import read_json_stream, run_to_memory, streaming_dedup

    stream = read_json_stream(spark, stream_dir, SCHEMA)
    res = streaming_dedup(stream, text_col="text", ts_col="ts")
    q = run_to_memory(res, "dedup_t", mode="append")
    try:
        texts = sorted(
            r["text"] for r in spark.sql("SELECT * FROM dedup_t").collect()
        )
        assert texts == ["hello world", "other doc"]
    finally:
        q.stop()


def test_session_agg(spark, stream_dir):
    from datamancer_spark.streaming import read_json_stream, run_to_memory, session_agg

    stream = read_json_stream(spark, stream_dir, SCHEMA)
    # session windows support complete/append only (update is rejected);
    # complete re-emits full state each trigger — fine for a test sink
    res = session_agg(stream, "ts", gap="30 minutes", keys=("user",))
    q = run_to_memory(res, "session_t", mode="complete")
    try:
        rows = [
            (r["user"], r["n"]) for r in spark.sql("SELECT * FROM session_t").collect()
        ]
        # u1's two events 15 min apart merge into one session; u2 separate
        assert sorted(rows) == [("u1", 2), ("u2", 1)]
    finally:
        q.stop()


def test_stateful_running_totals_across_batches(spark):
    """State must persist across micro-batches: feed two files with
    maxFilesPerTrigger=1 so they arrive in separate triggers."""
    import tempfile

    from datamancer_spark.streaming import (
        read_json_stream,
        run_to_memory,
        stateful_running_totals,
    )

    with tempfile.TemporaryDirectory() as d:
        _write_batch(d, "b0.json", [
            {"ts": "2024-01-01T00:00:00", "user": "u1", "text": "t", "value": 1.0},
            {"ts": "2024-01-01T00:01:00", "user": "u1", "text": "t", "value": 2.0},
        ])
        _write_batch(d, "b1.json", [
            {"ts": "2024-01-01T00:02:00", "user": "u1", "text": "t", "value": 4.0},
        ])
        stream = read_json_stream(spark, d, SCHEMA, max_files=1)
        res = stateful_running_totals(stream, key="user", value_col="value")
        q = run_to_memory(res, "state_t", mode="update")
        try:
            rows = spark.sql("SELECT * FROM state_t").collect()
            # one emission per batch; the final one must carry totals over
            # BOTH batches (proves GroupState persisted)
            finals = max((r["n_events"], r["total"]) for r in rows)
            assert finals == (3, 7.0)
            assert len(rows) >= 2
        finally:
            q.stop()


def test_incremental_parquet_sink(spark, stream_dir):
    import tempfile

    from datamancer_spark.streaming import read_json_stream, write_incremental_parquet

    out = tempfile.mkdtemp() + "/inc_out"
    ckpt = tempfile.mkdtemp() + "/ckpt"
    stream = read_json_stream(spark, stream_dir, SCHEMA)
    q = write_incremental_parquet(stream, out, ckpt, dedupe_keys=("text",))
    try:
        q.processAllAvailable()
        back = spark.read.parquet(out)
        # 3 input rows, two share text "hello world" -> batch-deduped to 2;
        # _batch_id arrives as the idempotency partition column
        assert back.drop("_batch_id").count() == 2
    finally:
        q.stop()


def test_stream_batch_parity(spark):
    """The streaming tumbling aggregation must produce exactly the batch
    hourly rollup on the same data — the one-expression-layer guarantee."""
    import tempfile

    from pyspark.sql import functions as F

    from datamancer_spark import load_tables
    from datamancer_spark.streaming import read_json_stream, run_to_memory, tumbling_agg

    ev = load_tables(spark, "/root/testdata/sf0.001", ["events"])["events"].df
    batch = {
        (str(r["bucket"]), r["event_type"]): (r["n"], round(r["total"], 6))
        for r in ev.groupBy(
            F.date_trunc("hour", "ts").alias("bucket"), "event_type"
        )
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("total"))
        .collect()
    }

    with tempfile.TemporaryDirectory() as d:
        ev.select(
            F.date_format("ts", "yyyy-MM-dd'T'HH:mm:ss.SSSSSS").alias("ts"),
            "event_type",
            "value",
        ).coalesce(1).write.mode("overwrite").json(d + "/js")
        from pyspark.sql.types import (
            DoubleType, StringType, StructField, StructType, TimestampType,
        )

        schema = StructType(
            [
                StructField("ts", TimestampType()),
                StructField("event_type", StringType()),
                StructField("value", DoubleType()),
            ]
        )
        stream = read_json_stream(spark, d + "/js", schema)
        res = tumbling_agg(
            stream, "ts", window="1 hour", watermark="0 seconds",
            keys=("event_type",),
            n=F.count(F.lit(1)), total=F.sum("value"),
        )
        q = run_to_memory(res, "parity_t")
        try:
            streamed = {
                (str(r["bucket"]), r["event_type"]): (r["n"], round(r["total"], 6))
                for r in spark.sql("SELECT * FROM parity_t").collect()
            }
        finally:
            q.stop()
    assert streamed == batch


def test_sliding_agg(spark, stream_dir):
    from datamancer_spark.streaming import read_json_stream, run_to_memory, sliding_agg
    from pyspark.sql import functions as F

    stream = read_json_stream(spark, stream_dir, SCHEMA)
    res = sliding_agg(stream, "ts", window="1 hour", slide="30 minutes",
                      keys=("user",), n=F.count(F.lit(1)))
    q = run_to_memory(res, "slide_t")
    try:
        rows = spark.sql("SELECT * FROM slide_t").collect()
        # u1's 00:05 event falls in windows [23:30,00:30) and [00:00,01:00)
        u1 = [r for r in rows if r["user"] == "u1"]
        assert len(u1) >= 2
    finally:
        q.stop()


def test_stream_stream_interval_join(spark):
    """Watermarked stream-stream join: purchases joined to the same
    user's clicks within the preceding 30 minutes."""
    import json as _json
    import tempfile

    from pyspark.sql import functions as F

    from datamancer_spark.streaming import read_json_stream

    with tempfile.TemporaryDirectory() as d1, tempfile.TemporaryDirectory() as d2:
        clicks = [
            {"ts": "2024-01-01T00:00:00", "user": "u1", "text": "c1", "value": 1.0},
            {"ts": "2024-01-01T01:00:00", "user": "u1", "text": "c2", "value": 2.0},
        ]
        purchases = [
            {"ts": "2024-01-01T00:10:00", "user": "u1", "text": "p1", "value": 9.0},
            {"ts": "2024-01-01T02:00:00", "user": "u1", "text": "p2", "value": 8.0},
        ]
        with open(d1 + "/c.json", "w") as f:
            f.writelines(_json.dumps(r) + "\n" for r in clicks)
        with open(d2 + "/p.json", "w") as f:
            f.writelines(_json.dumps(r) + "\n" for r in purchases)

        cs = (
            read_json_stream(spark, d1, SCHEMA)
            .withWatermark("ts", "1 hour")
            .select(F.col("user").alias("c_user"), F.col("ts").alias("c_ts"),
                    F.col("text").alias("click_id"))
        )
        ps = (
            read_json_stream(spark, d2, SCHEMA)
            .withWatermark("ts", "1 hour")
            .select("user", F.col("ts").alias("p_ts"), F.col("text").alias("purchase_id"))
        )
        joined = ps.join(
            cs,
            (F.col("user") == F.col("c_user"))
            & (F.col("c_ts") <= F.col("p_ts"))
            & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 30 MINUTES")),
        )
        q = (
            joined.writeStream.format("memory")
            .queryName("ssj_t")
            .outputMode("append")
            .start()
        )
        try:
            q.processAllAvailable()
            pairs = {
                (r["purchase_id"], r["click_id"])
                for r in spark.sql("SELECT * FROM ssj_t").collect()
            }
            # p1 (00:10) matches c1 (00:00, 10 min earlier); p2 (02:00)
            # matches nothing (c2 is 60 min earlier > 30-minute bound)
            assert pairs == {("p1", "c1")}
        finally:
            q.stop()


def test_streaming_fuzzy_screen(spark, tmp_path):
    """Stream docs are screened against a persisted MinHash band index:
    exact and near duplicates of history drop in-flight, novel docs
    survive; the streaming plan is stateless (no aggregation state)."""
    from datamancer_spark.operators.dedup import (
        build_minhash_index,
        minhash_band_index,
    )
    from datamancer_spark.streaming import streaming_fuzzy_screen

    base = ("the quick brown fox jumps over the lazy dog while rain "
            "falls softly on the quiet green meadow near the old mill")
    near = base.replace("lazy dog", "sleepy dog")
    novel = ("astronomy telescopes orbit planets stars galaxies nebulae "
             "comets asteroids meteors moons eclipses observatories")
    history = spark.createDataFrame(
        [(1, base)], "doc_id long, text string"
    )
    bidx = minhash_band_index(build_minhash_index(history))

    d = str(tmp_path / "in")
    os.makedirs(d)
    _write_batch(d, "b0.json", [
        {"ts": "2024-01-01T00:00:00", "user": "u", "text": base, "value": 1.0},
        {"ts": "2024-01-01T00:01:00", "user": "u", "text": near, "value": 2.0},
        {"ts": "2024-01-01T00:02:00", "user": "u", "text": novel, "value": 3.0},
    ])
    stream = (
        spark.readStream.schema(SCHEMA).json(d)
    )
    out = streaming_fuzzy_screen(stream, bidx)
    q = (
        out.writeStream.format("memory")
        .queryName("fuzzy_screen")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        rows = spark.sql("SELECT text FROM fuzzy_screen").collect()
    finally:
        q.stop()
    texts = {r["text"] for r in rows}
    assert texts == {novel}


def test_streaming_crawl_ingest(spark, tmp_path):
    """The streaming twin of the crawl→corpus capstone: WARC files
    arrive in a drop directory (binaryFile stream), records walk +
    HTTP decode + HTML→text + quality gate run stateless in-flight,
    and the MinHash band screen drops pages already in the persisted
    history index. Doc 1 carries cluster page c1 + unique page u1;
    doc 3 carries cluster page c3 (IN history → identical signature →
    certain drop), a near-dup of c3, its unique page, and no spam/404.
    The near-dup's band fate is probabilistic in general but FIXED for
    these bytes — pinned here (it shares a band and drops, the
    high-recall outcome the screen is built for)."""
    from datamancer_spark.operators.dedup import (
        build_minhash_index,
        minhash_band_index,
    )
    from datamancer_spark.operators.fixtures import warc_corpus_blob
    from datamancer_spark.streaming import (
        read_warc_stream,
        streaming_crawl_ingest,
    )

    d = str(tmp_path / "crawl")
    os.makedirs(d)
    for i in (1, 3):
        with open(os.path.join(d, f"seg{i}.warc"), "wb") as f:
            f.write(warc_corpus_blob(i))
    hist_text = " ".join(f"c3_{j}" for j in range(40))
    history = spark.createDataFrame(
        [(999, hist_text)], "doc_id long, text string"
    )
    bidx = minhash_band_index(build_minhash_index(history))

    stream = read_warc_stream(spark, d, max_files=1)
    out = streaming_crawl_ingest(stream, band_index=bidx)
    assert out.isStreaming
    q = (
        out.writeStream.format("memory")
        .queryName("crawl_stream")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        rows = spark.sql(
            "SELECT path, url, text, n_words FROM crawl_stream"
        ).collect()
    finally:
        q.stop()
    by_url = {r["url"]: r for r in rows}
    # doc 1 survivors: its cluster page (c1 not in history) + unique
    assert "http://s1.example/c/1" in by_url
    assert "http://s1.example/u/1" in by_url
    assert by_url["http://s1.example/u/1"]["text"] == " ".join(
        f"u1_{j}" for j in range(16)
    )
    # doc 3: the c3 cluster page is in history — identical signature,
    # every band matches: certain drop
    assert "http://s3.example/c/3" not in by_url
    # doc 3's unique page survives (disjoint token namespace)
    assert "http://s3.example/u/3" in by_url
    # the near-dup page (J=35/41 trigram vs history) band-hits for
    # these fixed bytes and drops — the screen's designed outcome
    assert "http://s3.example/nd/3" not in by_url
    # nothing else leaked through (no spam/404 pages for docs 1, 3)
    assert len(rows) == 3


def test_streaming_crawl_ingest_no_index(spark, tmp_path):
    """band_index=None skips the screen: every gated page survives."""
    from datamancer_spark.operators.fixtures import warc_corpus_blob
    from datamancer_spark.streaming import (
        read_warc_stream,
        streaming_crawl_ingest,
    )

    d = str(tmp_path / "crawl0")
    os.makedirs(d)
    # doc 5 carries a SPAM page (5 % 11 == 5): the quality gate must
    # drop it in-flight (5 repeated tokens fail both thresholds)
    with open(os.path.join(d, "seg5.warc"), "wb") as f:
        f.write(warc_corpus_blob(5))
    out = streaming_crawl_ingest(read_warc_stream(spark, d))
    q = (
        out.writeStream.format("memory")
        .queryName("crawl_stream0")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        rows = spark.sql("SELECT url FROM crawl_stream0").collect()
    finally:
        q.stop()
    urls = {r["url"] for r in rows}
    assert urls == {"http://s5.example/c/5", "http://s5.example/u/5"}


def test_streaming_capstone_equals_batch(spark, tmp_path):
    """VERDICT r10 #6: the documented state split's equivalence claim,
    pinned end-to-end — stream the capstone WARC segments through the
    stateless in-flight tier (record walk + HTTP decode + HTML→text +
    quality gate), then run the stateful batch compaction (exact dedup
    + exact-trigram-Jaccard fuzzy dedup) over the streamed rows; the
    survivor corpus must EQUAL the all-batch capstone's on the same
    blobs. 60 docs cover every fixture feature: shared clusters
    (exact dups across docs), near-dups (%7==3), spam (%11==5), 404s
    (%13==7), all three HTTP framings, gzip and plain WARC files; 3
    micro-batches (max_files=25) prove batch boundaries don't leak
    into the result."""
    from datamancer_spark.operators.dedup import (
        exact_dedup_keep,
        ngram_jaccard_pairs,
    )
    from datamancer_spark.operators.fixtures import (
        synth_blob_frame,
        warc_corpus_blob,
    )
    from datamancer_spark.operators.warc import ingest_warc
    from datamancer_spark.session import materialize
    from datamancer_spark.streaming import (
        read_warc_stream,
        streaming_crawl_ingest,
    )

    ids = list(range(60))
    d = str(tmp_path / "capstone_drop")
    os.makedirs(d)
    for i in ids:
        with open(os.path.join(d, f"seg{i:04d}.warc"), "wb") as f:
            f.write(warc_corpus_blob(i))

    # --- streaming tier: stateless in-flight ingest + quality gate
    out = streaming_crawl_ingest(
        read_warc_stream(spark, d, max_files=25), band_index=None
    )
    q = (
        out.writeStream.format("memory")
        .queryName("capstone_stream")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        streamed = spark.sql(
            "SELECT path, rec_idx, url, host, text, n_words "
            "FROM capstone_stream"
        )
        streamed = materialize(
            streamed.withColumn(
                "doc_id",
                F.regexp_extract("path", r"seg(\d+)\.warc$", 1).cast(
                    "long"
                ),
            )
        )
    finally:
        q.stop()

    # --- batch compaction: the stateful tiers over the streamed rows
    def compact(gated):
        keyed = gated.withColumn(
            "page_id", F.col("doc_id") * 8 + F.col("rec_idx")
        )
        kept = materialize(exact_dedup_keep(keyed, "text", "page_id"))
        pairs = ngram_jaccard_pairs(
            kept, "text", "page_id", shingle_n=3, threshold=0.8
        )
        drop = pairs.select(F.col("id_b").alias("page_id")).distinct()
        return kept.join(drop, "page_id", "left_anti")

    got = sorted(
        (r["doc_id"], r["rec_idx"], r["text"])
        for r in compact(streamed).collect()
    )

    # --- the all-batch capstone on the same blobs
    idf = spark.createDataFrame([(i,) for i in ids], "doc_id long")
    pages = ingest_warc(synth_blob_frame(idf, warc_corpus_blob))
    toks = F.split(F.col("text"), " ")
    gated_b = pages.filter(
        (F.size(toks) >= 10)
        & (F.size(F.array_distinct(toks)) / F.size(toks) >= 0.5)
    )
    want = sorted(
        (r["doc_id"], r["rec_idx"], r["text"])
        for r in compact(gated_b).collect()
    )
    assert got == want
    # sanity: the fixture exercised every fate (survivors exist, and
    # fewer pages survive than were gated in)
    assert len(want) > 60
    assert len(want) < streamed.count()


def test_streaming_bloom_prescreen(spark, tmp_path):
    """bloom_maybe_contains documents that its probe 'adds ZERO
    shuffles and runs on streams unchanged' — pin it: the probe over a
    file stream flags every true duplicate of the seen corpus
    (no-false-negative contract holds per micro-batch) and matches the
    batch probe on the same rows."""
    import json
    import os

    from datamancer_spark.operators.dedup import (
        bloom_build,
        bloom_maybe_contains,
    )
    from datamancer_spark.session import materialize

    seen = spark.createDataFrame(
        [(i, f"seen doc {i}") for i in range(50)],
        "doc_id long, text string",
    )
    bits, k = 1 << 12, 4
    bloom = materialize(bloom_build(seen, "text", bits, k))

    d = str(tmp_path / "bloom_in")
    os.makedirs(d)
    rows_a = [{"doc_id": 100 + i, "text": f"seen doc {i}"}
              for i in range(20)]
    rows_b = [{"doc_id": 200 + i, "text": f"novel doc {i}"}
              for i in range(30)]
    for name, rows in (("a.json", rows_a), ("b.json", rows_b)):
        with open(os.path.join(d, name), "w") as f:
            f.write("\n".join(json.dumps(r) for r in rows))
    stream = spark.readStream.schema("doc_id long, text string").json(d)
    probed = bloom_maybe_contains(stream, bloom, "text", bits, k)
    assert probed.isStreaming
    q = (
        probed.writeStream.format("memory")
        .queryName("bloom_stream")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        got = {
            r["doc_id"]: r["maybe_seen"]
            for r in spark.sql(
                "SELECT doc_id, maybe_seen FROM bloom_stream"
            ).collect()
        }
    finally:
        q.stop()
    assert len(got) == 50
    # every true duplicate probes maybe (contract), regardless of
    # which micro-batch carried it
    assert all(got[100 + i] for i in range(20))
    # batch probe on the same rows gives identical flags
    batch = spark.createDataFrame(
        [(r["doc_id"], r["text"]) for r in rows_a + rows_b],
        "doc_id long, text string",
    )
    want = {
        r["doc_id"]: r["maybe_seen"]
        for r in bloom_maybe_contains(batch, bloom, "text", bits, k)
        .collect()
    }
    assert got == want


def test_streaming_curation_pipeline_composes(spark, tmp_path):
    """The batch curation tier composes unchanged on a stream: heuristic
    quality score + hashed classifier score (both pure projections) and
    the fuzzy history screen run in ONE stateless streaming query."""
    from datamancer_spark.functions.text import quality_score
    from datamancer_spark.operators.classify import hashed_linear_score
    from datamancer_spark.operators.dedup import (
        build_minhash_index,
        minhash_band_index,
    )
    from datamancer_spark.streaming import streaming_fuzzy_screen

    base = ("the quick brown fox jumps over the lazy dog while rain "
            "falls softly on the quiet green meadow near the old mill")
    novel = ("astronomy telescopes orbit planets stars galaxies nebulae "
             "comets asteroids meteors moons eclipses observatories")
    history = spark.createDataFrame([(1, base)], "doc_id long, text string")
    bidx = minhash_band_index(build_minhash_index(history))

    d = str(tmp_path / "in")
    os.makedirs(d)
    _write_batch(d, "b0.json", [
        {"ts": "2024-01-01T00:00:00", "user": "u", "text": base, "value": 1.0},
        {"ts": "2024-01-01T00:01:00", "user": "u", "text": novel, "value": 2.0},
        {"ts": "2024-01-01T00:02:00", "user": "u", "text": "x", "value": 3.0},
    ])
    stream = spark.readStream.schema(SCHEMA).json(d)
    screened = streaming_fuzzy_screen(stream, bidx)
    curated = hashed_linear_score(
        screened.withColumn("q", quality_score(F.col("text"))), dim=64
    ).filter(F.col("q") >= 0.75)
    q = (
        curated.writeStream.format("memory")
        .queryName("curated_stream")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        rows = spark.sql("SELECT text, q, score FROM curated_stream").collect()
    finally:
        q.stop()
    # base drops at the fuzzy screen; "x" (2/4 heuristics) at the 0.75 gate
    assert [r["text"] for r in rows] == [novel]
    assert 0.0 <= rows[0]["score"] <= 1.0


def test_streaming_span_hits(spark, tmp_path):
    """Stream docs probe a persisted hot-window index: known boilerplate
    spans are emitted with their positions, clean docs emit nothing;
    stateless stream-static join."""
    from datamancer_spark.operators.quality import hot_window_index
    from datamancer_spark.streaming import streaming_span_hits

    boiler = "all rights reserved unauthorized copying is strictly prohibited"
    corpus = spark.createDataFrame(
        [(1, f"first document text {boiler} trailing words"),
         (2, f"second document {boiler} and more"),
         (3, "independent content with no shared spans at all here")],
        "doc_id long, text string",
    )
    hot = hot_window_index(corpus, window=4, min_docs=2)

    d = str(tmp_path / "in")
    os.makedirs(d)
    _write_batch(d, "b0.json", [
        {"ts": "2024-01-01T00:00:00", "user": "hit",
         "text": f"incoming page {boiler} footer", "value": 1.0},
        {"ts": "2024-01-01T00:01:00", "user": "clean",
         "text": "totally novel writing nothing shared with history corpus",
         "value": 2.0},
    ])
    stream = spark.readStream.schema(SCHEMA).json(d)
    out = streaming_span_hits(stream, hot, id_col="user", window=4)
    q = (
        out.writeStream.format("memory")
        .queryName("span_hits")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        rows = spark.sql("SELECT * FROM span_hits").collect()
    finally:
        q.stop()
    users = {r["user"] for r in rows}
    assert users == {"hit"}
    # the 8-token boilerplate contributes 5 hot 4-grams
    assert len(rows) == 5


def test_streaming_media_screen(spark, tmp_path):
    """Stream image blobs screen against a persisted dHash band index:
    a perceptual duplicate of an indexed image (same pixels, different
    PNG filter bytes — exact byte dedup would miss it) is dropped, a
    novel image survives, an undecodable blob always survives."""
    import numpy as np

    from datamancer_spark.operators.multimodal import dhash_band_index
    from datamancer_spark.streaming import streaming_media_screen
    from tests.test_multimodal import _encode_png

    rng = np.random.default_rng(41)
    known = rng.integers(0, 256, size=(24, 24), dtype=np.uint8)
    novel = rng.integers(0, 256, size=(24, 24), dtype=np.uint8)
    corpus = spark.createDataFrame(
        [("hist1", bytearray(_encode_png(known, 0, [0])))],
        "path string, content binary",
    )
    index = dhash_band_index(corpus)
    assert set(index.columns) == {"band", "val", "sigs"}

    d = str(tmp_path / "media_in")
    incoming = spark.createDataFrame(
        [
            ("dup", bytearray(_encode_png(known, 0, [2]))),   # re-encoded dup
            ("new", bytearray(_encode_png(novel, 0, [0]))),
            ("bad", bytearray(b"not an image at all")),
        ],
        "path string, content binary",
    )
    incoming.write.parquet(d)
    stream = spark.readStream.schema(incoming.schema).parquet(d)
    out = streaming_media_screen(stream, index)
    q = (
        out.writeStream.format("memory")
        .queryName("media_screen")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        survivors = {
            r["path"] for r in spark.sql("SELECT * FROM media_screen").collect()
        }
    finally:
        q.stop()
    assert survivors == {"new", "bad"}


def test_streaming_media_screen_verifies_hamming(spark, tmp_path):
    """The r6-advice saturation scenario: 16-bit band buckets fill up as
    the corpus grows, so a bucket COLLISION alone must not drop a stream
    row — only a verified bit_count(xor) <= max_hamming against the
    bucket's full 64-bit signatures may. Here the index is seeded with a
    signature that shares band 0 with the incoming image but differs by
    ~32 bits overall: membership-only screening would drop the row; the
    verified screen keeps it. A second index row holds a true 2-bit
    neighbor, which is dropped."""
    import numpy as np

    from datamancer_spark.operators.multimodal import dhash
    from datamancer_spark.streaming import streaming_media_screen
    from tests.test_multimodal import _encode_png

    rng = np.random.default_rng(43)
    img = rng.integers(0, 256, size=(24, 24), dtype=np.uint8)
    blob = bytearray(_encode_png(img, 0, [0]))
    frame = spark.createDataFrame(
        [("probe", blob)], "path string, content binary"
    )
    [row] = dhash(frame).collect()
    sig = row["dhash"]

    def to_signed(x):
        return x - (1 << 64) if x >= 1 << 63 else x

    u = sig % (1 << 64)
    # shares band 0 (low 16 bits) exactly; upper 48 bits inverted
    far = to_signed(u ^ 0xFFFFFFFFFFFF0000)
    near = to_signed(u ^ (0b101 << 20))  # 2 bits flipped, in band 1

    def bucket(s, b):
        return ((s % (1 << 64)) >> (b * 16)) & 0xFFFF

    index = spark.createDataFrame(
        [
            (0, bucket(far, 0), [far]),
            # indexed under band 2, where near agrees with sig (its
            # flipped bits live in band 1)
            (2, bucket(near, 2), [near]),
        ],
        "band int, val bigint, sigs array<bigint>",
    )
    assert bucket(far, 0) == bucket(sig, 0)  # genuine band-0 collision

    d = str(tmp_path / "media_ham")
    frame.write.parquet(d)
    stream = spark.readStream.schema(frame.schema).parquet(d)

    # far-only index: bucket hit but Hamming 48 -> row must SURVIVE
    far_only = index.filter(index.band == 0)
    out = streaming_media_screen(stream, far_only)
    q = (
        out.writeStream.format("memory")
        .queryName("ham_far")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        far_rows = spark.sql("SELECT path FROM ham_far").collect()
    finally:
        q.stop()
    assert {r["path"] for r in far_rows} == {"probe"}

    # full index: the true 2-bit neighbor verifies -> row dropped
    out2 = streaming_media_screen(stream, index)
    q2 = (
        out2.writeStream.format("memory")
        .queryName("ham_near")
        .outputMode("append")
        .start()
    )
    try:
        q2.processAllAvailable()
        near_rows = spark.sql("SELECT path FROM ham_near").collect()
    finally:
        q2.stop()
    assert near_rows == []

    import pytest

    with pytest.raises(ValueError, match="pigeonhole"):
        streaming_media_screen(stream, index, max_hamming=4)


def test_streaming_screens_emit_hits_for_quarantine(spark, tmp_path):
    """emit='hits' inverts the screens so probable duplicates route to
    a quarantine/audit sink instead of vanishing; survivors+hits
    partition the decodable stream."""
    import numpy as np

    from datamancer_spark.operators.multimodal import dhash_band_index
    from datamancer_spark.streaming import streaming_media_screen
    from tests.test_multimodal import _encode_png

    rng = np.random.default_rng(47)
    known = rng.integers(0, 256, size=(24, 24), dtype=np.uint8)
    novel = rng.integers(0, 256, size=(24, 24), dtype=np.uint8)
    corpus = spark.createDataFrame(
        [("hist", bytearray(_encode_png(known, 0, [0])))],
        "path string, content binary",
    )
    index = dhash_band_index(corpus)

    d = str(tmp_path / "quarantine_in")
    incoming = spark.createDataFrame(
        [
            ("dup", bytearray(_encode_png(known, 0, [2]))),
            ("new", bytearray(_encode_png(novel, 0, [0]))),
            ("bad", bytearray(b"not an image")),
        ],
        "path string, content binary",
    )
    incoming.write.parquet(d)
    stream = spark.readStream.schema(incoming.schema).parquet(d)
    q = (
        streaming_media_screen(stream, index, emit="hits")
        .writeStream.format("memory")
        .queryName("quarantine")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        hits = {r["path"] for r in spark.sql("SELECT * FROM quarantine").collect()}
    finally:
        q.stop()
    assert hits == {"dup"}  # undecodable never lands in quarantine

    import pytest

    with pytest.raises(ValueError, match="emit"):
        streaming_media_screen(stream, index, emit="both")


def test_streaming_audio_screen_cross_codec(spark, tmp_path):
    """r9: the audio twin of the media screen, cross-CODEC — the index
    holds a WAV clip's envelope dHash (kind="audio"); the stream's OGG
    VORBIS re-encode of the same clip verifies within the Hamming
    radius and is dropped, a novel clip survives, an undecodable Ogg
    stub always survives (a screen never drops what it cannot read)."""
    import struct

    import numpy as np

    from datamancer_spark.operators.multimodal import dhash_band_index
    from datamancer_spark.streaming import streaming_media_screen
    from tests.vorbis_encoder import encode_vorbis

    def bl_noise(n, seed, frac=0.35):
        rng = np.random.default_rng(seed)
        x = rng.standard_normal(n)
        spec = np.fft.rfft(x)
        spec[int(len(spec) * frac):] = 0
        return 0.3 * np.fft.irfft(spec, n)

    def wav_of(sig):
        data = np.clip(sig * 32767, -32768, 32767).astype("<i2").tobytes()
        return bytearray(
            b"RIFF" + struct.pack("<I", 36 + len(data)) + b"WAVE"
            + b"fmt " + struct.pack("<IHHIIHH", 16, 1, 1, 8000, 16000, 2, 16)
            + b"data" + struct.pack("<I", len(data)) + data
        )

    # amplitude-modulate so adjacent envelope frames differ decisively
    # (a flat envelope leaves near-tie energy comparisons that codec
    # quantization noise can flip — real music/speech is modulated)
    t = np.arange(16384)
    am1 = 0.6 + 0.4 * np.sin(2 * np.pi * t / 5000.0)
    am2 = 0.6 + 0.4 * np.cos(2 * np.pi * t / 3700.0)
    clip = bl_noise(16384, 71) * am1
    novel = bl_noise(16384, 72) * am2
    ogg_dup = bytearray(encode_vorbis([clip], 8000, delta=0.004))
    # index the WAV aligned to the Vorbis priming trim (half a block)
    corpus = spark.createDataFrame(
        [("hist", wav_of(clip[256:-256]))], "path string, content binary"
    )
    index = dhash_band_index(corpus, kind="audio")

    d = str(tmp_path / "audio_in")
    incoming = spark.createDataFrame(
        [
            ("dup_ogg", ogg_dup),  # same clip, different codec
            ("new", wav_of(novel)),
            ("bad", bytearray(b"OggS not really a page")),
        ],
        "path string, content binary",
    )
    incoming.write.parquet(d)
    stream = spark.readStream.schema(incoming.schema).parquet(d)
    out = streaming_media_screen(stream, index, kind="audio")
    q = (
        out.writeStream.format("memory")
        .queryName("audio_screen")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        survivors = {
            r["path"]
            for r in spark.sql("SELECT * FROM audio_screen").collect()
        }
    finally:
        q.stop()
    assert survivors == {"new", "bad"}


def test_streaming_warc_ingest_composes(spark, tmp_path):
    """The crawl front end composes with Structured Streaming unchanged:
    ingest_warc is a stateless mapInPandas + Catalyst projection, so a
    parquet file stream of (doc_id, WARC bytes) yields the same
    extracted-text rows the batch path produces."""
    from datamancer_spark.operators.fixtures import warc_blob
    from datamancer_spark.operators.warc import ingest_warc
    from tests.test_warc import expected_rows

    ids = [6, 7, 8]
    d = str(tmp_path / "warc_in")
    incoming = spark.createDataFrame(
        [(i, bytearray(warc_blob(i))) for i in ids],
        "doc_id long, content binary",
    )
    incoming.write.parquet(d)
    stream = spark.readStream.schema(incoming.schema).parquet(d)
    out = ingest_warc(stream)
    assert out.isStreaming
    q = (
        out.writeStream.format("memory")
        .queryName("warc_ingest")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        got = sorted(
            tuple(r)
            for r in spark.sql("SELECT * FROM warc_ingest").collect()
        )
    finally:
        q.stop()
    assert got == sorted(sum((expected_rows(i) for i in ids), []))


def test_streaming_frontier_bloom_probe(spark, tmp_path):
    """r12 incremental-discovery seam on a STREAM: discovered URLs
    arrive as a text-file stream and probe the crawled-URL Bloom
    in-flight — the probe is k broadcast joins (stateless, zero
    shuffles), so it runs on streams unchanged; flags must equal the
    batch run on the same rows, and the no-false-negative contract
    must hold."""
    from pyspark.sql import functions as F

    from datamancer_spark.operators.dedup import (
        bloom_build,
        bloom_maybe_contains,
    )

    crawled = spark.createDataFrame(
        [(f"http://h{i % 3}.example/p/{i}",) for i in range(0, 60, 2)],
        "url string",
    )
    bloom = bloom_build(crawled, "url", num_bits=512, num_hashes=4)

    d = str(tmp_path / "frontier")
    os.makedirs(d)
    urls = [f"http://h{i % 3}.example/p/{i}" for i in range(60)]
    for k in range(3):  # three stream files
        with open(os.path.join(d, f"part{k}.txt"), "w") as f:
            f.write("\n".join(urls[k * 20 : (k + 1) * 20]))

    stream = (
        spark.readStream.format("text")
        .option("maxFilesPerTrigger", 1)
        .load(d)
        .select(F.col("value").alias("url"))
    )
    probed = bloom_maybe_contains(stream, bloom, "url", 512, 4)
    assert probed.isStreaming
    q = (
        probed.writeStream.format("memory")
        .queryName("frontier_probe")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        got = {
            r["url"]: r["maybe_seen"]
            for r in spark.sql(
                "SELECT url, maybe_seen FROM frontier_probe"
            ).collect()
        }
    finally:
        q.stop()
    assert len(got) == 60
    batch = spark.createDataFrame([(u,) for u in urls], "url string")
    want = {
        r["url"]: r["maybe_seen"]
        for r in bloom_maybe_contains(batch, bloom, "url", 512, 4).collect()
    }
    assert got == want  # stream == batch, flag for flag
    # Bloom contract: every crawled URL (even ids) must be maybe_seen
    for i in range(0, 60, 2):
        assert got[f"http://h{i % 3}.example/p/{i}"] is True


def test_streaming_pii_redact_equals_batch(spark, tmp_path):
    """redact_pii is a pure projection (chained regexp_count/replace),
    so it must run on a file stream UNCHANGED and emit byte-identical
    redactions and span counts to the batch pass over the same rows —
    the shape a streaming crawl ingest applies it in."""
    import json
    import os

    from datamancer_spark.operators.scrub import redact_pii

    rows = [
        {"doc_id": 1, "text": "mail me at bob@example.com today"},
        {"doc_id": 2, "text": "call 415-555-0123 or 415-555-0199"},
        {"doc_id": 3, "text": "ssn 123-45-6789 ip 10.0.0.1"},
        {"doc_id": 4, "text": "card 4111 1111 1111 1111 thanks"},
        {"doc_id": 5, "text": "no pii here at all"},
    ]
    d = str(tmp_path / "pii_in")
    os.makedirs(d)
    with open(os.path.join(d, "a.json"), "w") as f:
        f.write("\n".join(json.dumps(r) for r in rows))

    stream = spark.readStream.schema("doc_id long, text string").json(d)
    red_s = redact_pii(stream, text_col="text")
    assert red_s.isStreaming
    q = (
        red_s.writeStream.format("memory")
        .queryName("pii_stream")
        .outputMode("append")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    got = sorted(
        tuple(r) for r in spark.sql("select * from pii_stream").collect()
    )

    batch = spark.createDataFrame(
        [(r["doc_id"], r["text"]) for r in rows],
        "doc_id long, text string",
    )
    want = sorted(tuple(r) for r in redact_pii(batch, text_col="text").collect())
    assert got == want
    by_id = {t[0]: t for t in got}
    # spot-pin the redactions themselves
    assert "<EMAIL>" in by_id[1][-1] and by_id[1][1] == 1   # n_email
    assert by_id[2][-1].count("<PHONE>") == 2
    assert "<SSN>" in by_id[3][-1] and "<IP>" in by_id[3][-1]
    assert "<CCN>" in by_id[4][-1]
    assert by_id[5][-1] == "no pii here at all"


class TestReplayHarness:
    """r13 replay gates: the AvailableNow → memory-sink harness that
    puts the streaming tier under the batch differential oracle."""

    def test_parquet_stream_single_file(self, spark):
        from datamancer_spark.streaming import read_parquet_stream

        schema = (
            "event_id long, ts timestamp_ntz, user_id long, "
            "event_type string, value double, props string"
        )
        s = read_parquet_stream(
            spark, "/root/testdata/sf0.001/events.parquet", schema
        )
        assert s.isStreaming and s.schema["ts"].dataType.typeName() == (
            "timestamp_ntz"
        )

    def test_replay_equals_batch_and_reruns(self, spark):
        from pyspark.sql import functions as F

        from datamancer_spark.streaming import (
            read_parquet_stream,
            replay_available_now,
        )

        schema = (
            "event_id long, ts timestamp_ntz, user_id long, "
            "event_type string, value double, props string"
        )
        src = read_parquet_stream(
            spark, "/root/testdata/sf0.001/events.parquet", schema
        )
        agg = src.groupBy("event_type").agg(
            F.count(F.lit(1)).alias("n")
        )
        got = {
            r["event_type"]: r["n"]
            for r in replay_available_now(agg, "replay_pytest").collect()
        }
        want = {
            r["event_type"]: r["n"]
            for r in spark.read.parquet(
                "/root/testdata/sf0.001/events.parquet"
            )
            .groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
        assert got == want and len(got) >= 3
        # rerun with the same query name replaces the sink cleanly
        again = {
            r["event_type"]: r["n"]
            for r in replay_available_now(agg, "replay_pytest").collect()
        }
        assert again == want

    def test_replay_failure_propagates(self, spark):
        import pytest as _pt
        from pyspark.sql import functions as F

        from datamancer_spark.streaming import (
            read_parquet_stream,
            replay_available_now,
        )

        # a runtime failure inside the stream must surface from the
        # harness, not return a silently-empty table
        bad = (
            read_parquet_stream(
                spark,
                "/root/testdata/sf0.001/events.parquet",
                "event_id long, ts timestamp_ntz",
            )
            .select(F.assert_true(F.col("ts").isNull()).alias("boom"))
            .groupBy("boom")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        with _pt.raises(Exception):
            replay_available_now(bad, "replay_bad", timeout_sec=60)


class TestLateDropSemantics:
    def test_three_batch_late_filter_uses_previous_watermark(
        self, spark, tmp_path
    ):
        """The measured semantics streaming_late_drop's twin encodes
        (r15): the late filter runs against the watermark that did the
        LAST eviction. Batch 2's late row (window still in state)
        MERGES and emits with its window; batch 3's row for an
        already-evicted window is DROPPED; unclosed tail windows never
        emit in append mode."""
        import datetime as dt
        import os
        import time

        import pyarrow as pa
        import pyarrow.parquet as pq

        from datamancer_spark.streaming import (
            read_parquet_stream,
            replay_available_now,
        )

        def T(h, m=0):
            return dt.datetime(2024, 1, 1, h, m)

        batches = [
            [(1, T(10, 5)), (2, T(15, 5)), (3, T(20, 0))],
            # new max 21:30; 15:10 is late vs wm 19:00 but its window
            # is still in state -> must merge
            [(4, T(21, 30)), (5, T(15, 10))],
            # 10:10's window [10,11) was evicted at the end of batch 2
            # (wm 19:00) -> must drop; 23:30 stays unclosed
            [(6, T(23, 30)), (7, T(10, 10))],
        ]
        d = str(tmp_path / "late3")
        os.makedirs(d)
        now = time.time()
        for i, rows in enumerate(batches):
            t = pa.table(
                {
                    "id": pa.array([r[0] for r in rows], pa.int64()),
                    "ts": pa.array(
                        [r[1] for r in rows], pa.timestamp("us")
                    ),
                }
            )
            p = f"{d}/f{i}.parquet"
            pq.write_table(t, p)
            os.utime(p, (now - 180 + 60 * i, now - 180 + 60 * i))
        src = read_parquet_stream(
            spark,
            d,
            "id long, ts timestamp_ntz",
            options={"maxFilesPerTrigger": "1"},
        )
        agg = (
            src.withColumn("ts", F.col("ts").cast("timestamp"))
            .withWatermark("ts", "1 hour")
            .groupBy(F.window("ts", "1 hour"))
            .agg(
                F.count(F.lit(1)).cast("long").alias("n"),
                F.concat_ws(
                    ",",
                    F.sort_array(
                        F.collect_list(F.col("id").cast("string"))
                    ),
                ).alias("ids"),
            )
        )
        out = agg.select(
            F.col("window.start").cast("timestamp_ntz").alias("w"),
            "n",
            "ids",
        )
        res = {
            r["w"].hour: (r["n"], r["ids"])
            for r in replay_available_now(
                out, "late3_sem", output_mode="append"
            ).collect()
        }
        # late-but-window-open row 5 merged; evicted-window row 7
        # dropped; unclosed 23:00 window absent
        assert res[15] == (2, "2,5")
        assert res[10] == (1, "1")
        assert res[20] == (1, "3")
        assert res[21] == (1, "4")
        assert 23 not in res
