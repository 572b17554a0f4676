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


def _json_stream(spark, path, schema=SCHEMA):
    return spark.readStream.schema(schema).json(path)


def test_tumbling_agg(spark, stream_dir):
    from datamancer_spark.streaming import replay_available_now, tumbling_agg

    res = tumbling_agg(
        _json_stream(spark, stream_dir), "ts", window="1 hour",
        keys=("user",), n=F.count(F.lit(1)), total=F.sum("value"),
    )
    rows = {
        (str(r["bucket"]), r["user"]): (r["n"], r["total"])
        for r in replay_available_now(res, "tumble_t").collect()
    }
    assert rows[("2024-01-01 00:00:00", "u1")] == (2, 3.0)
    assert rows[("2024-01-01 01:00:00", "u2")] == (1, 3.0)


def test_stream_batch_parity(spark):
    """The streaming tumbling aggregation must produce exactly the batch
    hourly rollup on the same data — the one-expression-layer guarantee."""
    import tempfile

    from pyspark.sql import functions as F

    from datamancer_spark import load_tables
    from datamancer_spark.streaming import replay_available_now, tumbling_agg

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
        res = tumbling_agg(
            _json_stream(spark, d + "/js", schema), "ts", window="1 hour",
            watermark="0 seconds", keys=("event_type",),
            n=F.count(F.lit(1)), total=F.sum("value"),
        )
        streamed = {
            (str(r["bucket"]), r["event_type"]): (r["n"], round(r["total"], 6))
            for r in replay_available_now(res, "parity_t").collect()
        }
    assert streamed == batch


def test_stream_stream_interval_join(spark):
    """Watermarked stream-stream join: purchases joined to the same
    user's clicks within the preceding 30 minutes."""
    import json as _json
    import tempfile

    from pyspark.sql import functions as F

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
            _json_stream(spark, d1)
            .withWatermark("ts", "1 hour")
            .select(F.col("user").alias("c_user"), F.col("ts").alias("c_ts"),
                    F.col("text").alias("click_id"))
        )
        ps = (
            _json_stream(spark, d2)
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
    quality score + hashed classifier score (both pure projections) run
    in ONE stateless streaming query."""
    from datamancer_spark.functions.text import quality_score
    from datamancer_spark.operators.classify import hashed_linear_score

    base = ("the quick brown fox jumps over the lazy dog while rain "
            "falls softly on the quiet green meadow near the old mill")
    novel = ("astronomy telescopes orbit planets stars galaxies nebulae "
             "comets asteroids meteors moons eclipses observatories")

    d = str(tmp_path / "in")
    os.makedirs(d)
    _write_batch(d, "b0.json", [
        {"ts": "2024-01-01T00:00:00", "user": "u", "text": base, "value": 1.0},
        {"ts": "2024-01-01T00:01:00", "user": "u", "text": novel, "value": 2.0},
        {"ts": "2024-01-01T00:02:00", "user": "u", "text": "x", "value": 3.0},
    ])
    stream = spark.readStream.schema(SCHEMA).json(d)
    curated = hashed_linear_score(
        stream.withColumn("q", quality_score(F.col("text"))), dim=64
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
    # "x" (2/4 heuristics) drops at the 0.75 gate
    assert sorted(r["text"] for r in rows) == sorted([base, novel])
    assert all(0.0 <= r["score"] <= 1.0 for r in rows)


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
