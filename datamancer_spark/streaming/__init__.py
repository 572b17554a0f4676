"""Structured Streaming surface.

The reference is batch-only (SURVEY.md §2.12: no streams, watermarks, or
stateful ops); this module is beyond-reference surface built directly on
Spark Structured Streaming, sharing the batch engine's column functions —
the same ``functions.text`` / ``operators.dedup`` expressions run
unchanged over unbounded input, which is the point of the Spark-first
design (one expression layer, two execution modes).

Scale notes: every helper keeps state bounded — watermarks expire window
state; streaming dedup uses ``dropDuplicatesWithinWatermark`` so the seen-
set is windowed, not unbounded.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType


def read_json_stream(
    spark: SparkSession, path: str, schema: StructType, max_files: int = 10
) -> DataFrame:
    """File-source stream (the deterministic test harness source; swap for
    kafka/rate in production — the downstream plan is identical)."""
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files)
        .json(path)
    )


def tumbling_agg(
    stream: DataFrame,
    ts_col: str,
    window: str = "1 hour",
    watermark: str = "10 minutes",
    keys: tuple[str, ...] = (),
    **aggs,
) -> DataFrame:
    """Watermarked tumbling-window aggregation — the streaming twin of the
    batch ``events_hourly`` query. Late rows beyond the watermark are
    dropped; state for closed windows is freed."""
    exprs = [v.alias(k) for k, v in aggs.items()] or [F.count(F.lit(1)).alias("n")]
    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window), *keys)
        .agg(*exprs)
        .select(
            F.col("window.start").alias("bucket"),
            *keys,
            *[k for k in aggs] if aggs else ["n"],
        )
    )


def sliding_agg(
    stream: DataFrame,
    ts_col: str,
    window: str = "1 hour",
    slide: str = "15 minutes",
    watermark: str = "10 minutes",
    keys: tuple[str, ...] = (),
    **aggs,
) -> DataFrame:
    exprs = [v.alias(k) for k, v in aggs.items()] or [F.count(F.lit(1)).alias("n")]
    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window, slide), *keys)
        .agg(*exprs)
        .select(
            F.col("window.start").alias("win_start"),
            F.col("window.end").alias("win_end"),
            *keys,
            *[k for k in aggs] if aggs else ["n"],
        )
    )


def session_agg(
    stream: DataFrame,
    ts_col: str,
    gap: str = "30 minutes",
    watermark: str = "10 minutes",
    keys: tuple[str, ...] = (),
    **aggs,
) -> DataFrame:
    """Session windows (gap-based) — Spark-native session_window; state
    per open session, closed by watermark."""
    exprs = [v.alias(k) for k, v in aggs.items()] or [F.count(F.lit(1)).alias("n")]
    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(F.session_window(F.col(ts_col), gap), *keys)
        .agg(*exprs)
        .select(
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            *keys,
            *[k for k in aggs] if aggs else ["n"],
        )
    )


def streaming_dedup(
    stream: DataFrame,
    text_col: str = "text",
    ts_col: str | None = None,
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming exact dedup on the canonical fingerprint (same
    normalization as the batch operator — operators.dedup.exact_dedup).
    With a timestamp column, state is bounded by the watermark
    (dropDuplicatesWithinWatermark); without one, Spark keeps the full
    seen-set (only for bounded-cardinality streams)."""
    from ..functions.text import fingerprint

    tagged = stream.withColumn("_fp", fingerprint(F.col(text_col)))
    if ts_col is not None:
        return tagged.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
            ["_fp"]
        ).drop("_fp")
    return tagged.dropDuplicates(["_fp"]).drop("_fp")


def stateful_running_totals(
    stream: DataFrame,
    key: str = "user",
    value_col: str = "value",
    timeout: str = "NoTimeout",
) -> DataFrame:
    """Custom stateful operator via ``applyInPandasWithState``: per-key
    running (count, sum) carried across micro-batches in GroupState —
    the escape hatch for operators Spark's built-in stateful ops can't
    express (arbitrary accumulators, custom eviction).

    State per key is two numbers — bounded by key cardinality, the same
    budget as a streaming aggregation. Emits one row per key per batch
    with the post-batch totals."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    # key field keeps the STREAM's actual key type (hardcoding StringType
    # would break long/int-keyed streams at Arrow conversion)
    out_schema = StructType(
        [
            StructField(key, stream.schema[key].dataType),
            StructField("n_events", LongType()),
            StructField("total", DoubleType()),
        ]
    )
    state_schema = StructType(
        [StructField("n", LongType()), StructField("s", DoubleType())]
    )

    def update(key_tuple, pdfs, state: "GroupState"):
        n, s = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            s += float(pdf[value_col].sum())
        state.update((n, s))
        import pandas as pd

        yield pd.DataFrame({key: [key_tuple[0]], "n_events": [n], "total": [s]})

    return (
        stream.groupBy(key)
        .applyInPandasWithState(
            update,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="update",
            timeoutConf=getattr(GroupStateTimeout, timeout),
        )
    )


def write_incremental_parquet(
    result: DataFrame,
    path: str,
    checkpoint: str,
    partition_by: tuple[str, ...] = (),
    dedupe_keys: tuple[str, ...] = (),
):
    """foreachBatch parquet sink, idempotent under micro-batch REPLAY:
    each batch writes (mode=overwrite) into its own ``_batch_id=N``
    partition directory, so a batch re-run after a crash-before-
    checkpoint-commit overwrites its previous output instead of
    double-appending. Readers of ``path`` see ``_batch_id`` as an extra
    partition column (drop it downstream). ``dedupe_keys`` collapses
    duplicate keys inside a batch before the write."""
    import os as _os

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        out = batch_df
        if dedupe_keys:
            out = out.dropDuplicates(list(dedupe_keys))
        w = out.write.mode("overwrite")
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(_os.path.join(path, f"_batch_id={batch_id}"))

    return (
        result.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint)
        .start()
    )


def run_to_memory(result: DataFrame, table: str, mode: str = "update"):
    """Test/debug sink: run the streaming query into an in-memory table
    until all available input is processed, return the query handle."""
    q = (
        result.writeStream.format("memory")
        .queryName(table)
        .outputMode(mode)
        .start()
    )
    q.processAllAvailable()
    return q


def streaming_cms(
    stream: DataFrame,
    value_col: str = "value",
    width: int = 1024,
    depth: int = 4,
) -> DataFrame:
    """Streaming count-min sketch — continuous frequency monitoring
    with state BOUNDED BY CONSTRUCTION: the running aggregate holds at
    most ``depth × width`` counters no matter how unbounded the input
    (the rare streaming aggregate that needs no watermark to stay
    finite). Each row's counter coordinates are a stateless projection
    (the same portable md5 hashes as the batch ``operators.sketch``
    tier), then one grouped count over the bounded key space. Run with
    ``outputMode("complete")`` (or ``update``) — the emitted frame IS
    a sketch: query it with ``sketch.cms_estimate``, merge it into the
    batch sketch with ``sketch.cms_merge`` (counter matrices are
    linear, so stream + compaction compose exactly)."""
    from ..operators.sketch import _cms_col

    entries = stream.filter(F.col(value_col).isNotNull()).select(
        F.posexplode(
            F.array(
                *[_cms_col(F.col(value_col), r, width) for r in range(depth)]
            )
        ).alias("row", "col")
    )
    return entries.groupBy("row", "col").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )


def streaming_hll(
    stream: DataFrame, value_col: str = "value", p: int = 8
) -> DataFrame:
    """Streaming HyperLogLog (r11) — continuous distinct counting with
    state bounded by construction: at most ``2**p`` registers however
    unbounded the input (like ``streaming_cms``, no watermark needed).
    Register coordinates/ranks are the stateless portable-md5
    projection of the batch ``operators.sketch.hll_build``; the
    running aggregate is one grouped MAX over the bounded register
    space. Run with ``outputMode("complete")``/``update`` — the
    emitted frame IS a register file: estimate with
    ``sketch.hll_estimate``, merge into batch registers with
    ``sketch.hll_merge`` (max-registers compose exactly; pinned
    stream==batch in tests)."""
    if not 4 <= p <= 16:
        raise ValueError(f"p={p} out of range [4, 16]")
    from ..operators.dedup import portable_hash

    m = 1 << p
    cap = 61 - p
    h = portable_hash(F.col(value_col), seed="hll")
    w = F.shiftright(h, p)
    rank = F.when(w > 0, F.lit(cap) - F.length(F.bin(w))).otherwise(
        F.lit(cap)
    )
    return (
        stream.filter(F.col(value_col).isNotNull())
        .select((h % m).alias("register"), rank.alias("rank"))
        .groupBy("register")
        .agg(F.max("rank").cast("int").alias("rank"))
    )


def read_warc_stream(
    spark: SparkSession, path: str, max_files: int = 10
) -> DataFrame:
    """Streaming WARC source: the ``binaryFile`` file stream over a
    crawl drop directory — one row per arriving ``.warc``/``.warc.gz``
    file, ``(path, modificationTime, length, content)``. The streaming
    file source requires the schema stated explicitly (binaryFile's is
    fixed, so this is boilerplate Spark can't infer on a stream). Swap
    for a Kafka source carrying WARC payload bytes in production — the
    downstream ingest plan is identical."""
    from pyspark.sql.types import (
        BinaryType,
        LongType,
        StringType,
        StructField,
        TimestampType,
    )

    schema = StructType(
        [
            StructField("path", StringType()),
            StructField("modificationTime", TimestampType()),
            StructField("length", LongType()),
            StructField("content", BinaryType()),
        ]
    )
    return (
        spark.readStream.format("binaryFile")
        .schema(schema)
        .option("maxFilesPerTrigger", max_files)
        .load(path)
    )


def streaming_crawl_ingest(
    stream: DataFrame,
    band_index: DataFrame | None = None,
    bin_col: str = "content",
    id_col: str = "path",
    min_words: int = 10,
    min_distinct_ratio: float = 0.5,
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
) -> DataFrame:
    """The STREAMING twin of the batch crawl→corpus capstone
    (``__spark_entry__.pipeline_from_crawl``), with the state split the
    fuzzy screen documents: everything STATELESS runs in the stream —
    WARC record walk + HTTP decode (one Arrow-batched mapInPandas,
    stateless per micro-batch), the Catalyst HTML→text chain, the
    quality gate (token count + distinct ratio, pure projections), and
    the MinHash band screen against the PERSISTED history index
    (stream-static joins) — while exact dedup WITHIN the stream and
    exact-Jaccard verification, which need cross-row state, belong to
    the periodic batch compaction (``dedup.fuzzy_dedup_against_index``
    / ``pipeline_from_crawl``). A crawl pipeline runs both: this
    stream ingests and pre-screens arriving segments continuously; the
    compactor re-curates and refreshes ``band_index``.

    ``band_index = None`` skips the screen (first segment of a fresh
    corpus). Returns the surviving (id, rec_idx, url, host, text,
    n_words) rows, still a streaming frame — attach any sink."""
    from ..operators.warc import ingest_warc

    pages = ingest_warc(stream.select(id_col, bin_col), bin_col=bin_col,
                        id_col=id_col)
    toks = F.split(F.col("text"), " ")
    gated = pages.filter(
        (F.size(toks) >= min_words)
        & (F.size(F.array_distinct(toks)) / F.size(toks)
           >= min_distinct_ratio)
    ).withColumn("n_words", F.size(toks))
    if band_index is None:
        return gated
    return streaming_fuzzy_screen(
        gated,
        band_index,
        text_col="text",
        num_hashes=num_hashes,
        bands=bands,
        shingle_n=shingle_n,
    )


def streaming_fuzzy_screen(
    stream: DataFrame,
    band_index: DataFrame,
    text_col: str = "text",
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    emit: str = "survivors",
) -> DataFrame:
    """Streaming near-duplicate screen against a PERSISTED history
    index: drop stream documents that share any MinHash LSH band with
    the accumulated corpus (``band_index`` = the static distinct
    (band, bhash) frame from ``operators.dedup.minhash_band_index``).

    This is the band-only high-recall screen — the right split for
    streaming: per-row signature + band hashes are a pure projection
    (zero state), membership is b stream-static LEFT joins against the
    band buckets, and a row survives iff every band misses. Exact
    Jaccard verification (which needs candidate aggregation state)
    belongs in the periodic batch compaction, where
    ``fuzzy_dedup_against_index`` runs it for free.

    The band columns stay COLUMNS, not exploded rows: exploding on a
    stream would need a per-doc any-band aggregation (watermark +
    state); column-wise joins keep the plan stateless. Static side per
    band is one row per occupied bucket — at 100 TB this is the
    (re-broadcastable) index tier, refreshed on compaction.

    ``emit``: ``"survivors"`` (default) keeps novel rows;
    ``"hits"`` INVERTS the filter, returning the band-hit rows so a
    pipeline can route probable duplicates to a quarantine/audit sink
    (two writeStreams over the same lineage) instead of discarding
    them unseen."""
    if emit not in ("survivors", "hits"):
        raise ValueError(f"emit must be 'survivors' or 'hits', got {emit!r}")
    from ..operators.dedup import (
        hash32,
        band_hash_columns,
        sig_from_shingle_hashes,
        word_shingles,
    )

    shs = F.transform(
        word_shingles(F.col(text_col), shingle_n), lambda s: hash32(s)
    )
    sig = sig_from_shingle_hashes(shs, num_hashes)
    out = stream.withColumns(
        {
            f"bhash_{b}": c
            for b, c in enumerate(band_hash_columns(sig, num_hashes, bands))
        }
    )
    hit_cols = []
    for b in range(bands):
        static_b = band_index.filter(F.col("band") == b).select(
            F.col("bhash").alias(f"_ib{b}"), F.lit(1).alias(f"_hit{b}")
        )
        out = out.join(
            static_b, out[f"bhash_{b}"] == static_b[f"_ib{b}"], "left"
        ).drop(f"_ib{b}")
        hit_cols.append(f"_hit{b}")
    novel = F.coalesce(*[F.col(h) for h in hit_cols]).isNull()
    kept = out.filter(novel if emit == "survivors" else ~novel)
    return kept.drop(*hit_cols, *[f"bhash_{b}" for b in range(bands)])


def streaming_span_hits(
    stream: DataFrame,
    hot_windows: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    window: int = 8,
) -> DataFrame:
    """Streaming duplicated-span probe against a PERSISTED hot-window
    index (``operators.quality.hot_window_index``): emit one row per
    (document, window position) whose ``window``-token span is already
    known boilerplate — the license/quote/template spans arriving in a
    live crawl.

    Stateless by design, mirroring ``streaming_fuzzy_screen``'s split:
    the rolling window fingerprints (full-md5 ``window_fp``, matching
    ``hot_window_index``) are a pure per-row projection + explode, and
    the probe is ONE stream-static inner equi-join against the
    hot set (broadcastable index tier). Per-document rollups
    (span fraction, drop decisions) need aggregation state and belong
    in the periodic batch compaction, where ``duplicate_span_stats``
    computes them exactly. Output: (id, span_pos, wh)."""
    from ..operators.dedup import tokens
    from ..operators.quality import window_fp

    toks = F.filter(tokens(F.col(text_col)), lambda t: F.length(t) > 0)
    k = F.greatest(F.size("_toks") - (window - 1), F.lit(0)).cast("int")
    exploded = (
        stream.withColumn("_toks", toks)
        .withColumn("_k", k)
        .filter(F.col("_k") > 0)
        .select(
            F.col(id_col),
            F.posexplode(
                F.transform(
                    F.sequence(F.lit(1), F.col("_k")),
                    lambda s: window_fp(
                        F.concat_ws(" ", F.slice(F.col("_toks"), s, window))
                    ),
                )
            ).alias("span_pos", "wh"),
        )
    )
    return exploded.join(hot_windows.select("wh"), "wh", "inner").select(
        id_col, "span_pos", "wh"
    )


def streaming_media_screen(
    stream: DataFrame,
    band_index: DataFrame,
    bin_col: str = "content",
    bands: int = 4,
    max_hamming: int = 3,
    emit: str = "survivors",
    kind: str = "image",
) -> DataFrame:
    """Streaming perceptual-duplicate screen for media blobs against a
    PERSISTED image-dHash index (``multimodal.dhash_band_index``): drop
    stream rows whose dHash is within ``max_hamming`` bits of an indexed
    corpus signature — the media analog of ``streaming_fuzzy_screen``,
    same stateless split: the signature is one Arrow-batched SCALAR
    projection (``multimodal.dhash_scalar_udf``, column-preserving — a
    mapInPandas reshape would force a stateful stream-stream join back),
    band extraction is bit arithmetic, and the probe is ``bands``
    stream-static LEFT joins against the (re-broadcastable) bucket
    tier. A band-bucket match alone is NOT a drop: 16-bit buckets
    saturate as the corpus grows (at ~65k distinct corpus signatures
    per-band occupancy is ~63%, so membership-only screening would drop
    nearly all NOVEL media at scale), and a dropped stream row can never
    be recovered by a later batch stage — so each bucket hit is VERIFIED
    in-plan against the bucket's full 64-bit signatures
    (``bit_count(xor) <= max_hamming``, still stateless). The
    ``max_hamming <= bands - 1`` pigeonhole guarantee of
    ``dedup.hamming_band_pairs`` applies here too and is enforced.
    UNDECODABLE blobs (NULL signature) always SURVIVE — a screen must
    never silently drop what it cannot read; route them to a quarantine
    sink if needed.

    ``emit``: ``"survivors"`` (default) keeps novel media;
    ``"hits"`` inverts the filter, returning the VERIFIED near-dup rows
    for a quarantine/audit sink (undecodable blobs never appear in
    hits).

    ``kind="audio"`` (r9) screens audio clips against an audio-dHash
    index (``dhash_band_index(..., kind="audio")``) — cross-codec by
    construction: a Vorbis re-encode of an indexed WAV lands within
    the Hamming radius and is dropped."""
    from ..operators.dedup import bit_block_columns
    from ..operators.multimodal import dhash_scalar_udf

    if emit not in ("survivors", "hits"):
        raise ValueError(f"emit must be 'survivors' or 'hits', got {emit!r}")
    sig_udf = dhash_scalar_udf(kind)

    if max_hamming > bands - 1:
        raise ValueError(
            f"max_hamming={max_hamming} exceeds the pigeonhole guarantee "
            f"of bands={bands} (any signature within {bands - 1} bits "
            f"shares at least one exact band); raise bands"
        )
    out = stream.withColumn("_dh", sig_udf(F.col(bin_col)))
    out = out.withColumns(
        {
            f"_bv{b}": blk
            for b, blk in enumerate(bit_block_columns(F.col("_dh"), bands))
        }
    )
    hit_cols = []
    for b in range(bands):
        static_b = band_index.filter(F.col("band") == b).select(
            F.col("val").alias(f"_ib{b}"), F.col("sigs").alias(f"_sigs{b}")
        )
        out = (
            out.join(static_b, out[f"_bv{b}"] == static_b[f"_ib{b}"], "left")
            .drop(f"_ib{b}")
            .withColumn(
                f"_hit{b}",
                F.when(
                    F.exists(
                        F.col(f"_sigs{b}"),
                        lambda s: F.bit_count(
                            F.col("_dh").bitwiseXOR(s)
                        )
                        <= F.lit(max_hamming),
                    ),
                    F.lit(1),
                ),
            )
            .drop(f"_sigs{b}")
        )
        hit_cols.append(f"_hit{b}")
    novel = (
        F.col("_dh").isNull()
        | F.coalesce(*[F.col(h) for h in hit_cols]).isNull()
    )
    kept = out.filter(novel if emit == "survivors" else ~novel)
    return kept.drop("_dh", *hit_cols, *[f"_bv{b}" for b in range(bands)])


def read_parquet_stream(
    spark: SparkSession,
    path: str,
    schema: StructType | str,
    options: dict[str, str] | None = None,
) -> DataFrame:
    """Parquet file-source stream. Spark's FileStreamSource requires a
    DIRECTORY (or glob) — a bare single-file path fails with "basePath
    must be a directory" because the inferred basePath IS the file. A
    one-character character-class glob (``[e]vents.parquet``) matches
    exactly the same file while forcing glob resolution, so basePath
    becomes the parent directory; works identically for directory
    datasets at scale (pass them through untouched).

    ``options`` (r15): file-source options, notably
    ``maxFilesPerTrigger`` — AvailableNow honors source admission
    limits, so one-file-per-trigger turns a multi-file directory into
    a DETERMINISTIC multi-batch replay (files admitted oldest
    modification time first), which is what lets a gate advance the
    watermark between batches and exercise real late-data drops."""
    import os as _os

    if _os.path.isfile(path):
        d, base = _os.path.split(path)
        path = f"{d}/[{base[0]}]{base[1:]}"
    reader = spark.readStream.schema(schema)
    for k, v in (options or {}).items():
        reader = reader.option(k, v)
    return reader.parquet(path)


def replay_available_now(
    result: DataFrame,
    query_name: str,
    timeout_sec: float = 300.0,
    output_mode: str = "complete",
) -> DataFrame:
    """Run a streaming frame to COMPLETION over everything currently
    available (``Trigger.AvailableNow``) into an in-memory sink and
    return the final state as a batch DataFrame — the bounded-replay
    harness that lets the STREAMING tier run under the batch
    differential oracle: for aggregations, the final complete-mode
    state over a fully-replayed source provably equals the batch
    aggregate over the same data (watermarks drop nothing when every
    row is on time relative to the final watermark), so a DuckDB twin
    of the batch form checks the whole streaming path — source,
    watermark plumbing, stateful operator, sink.

    Rerun-safe: an active query with the same name is stopped and the
    memory table is replaced (the driver/harness may invoke a gate
    twice per session). Failures propagate (a silently-empty memory
    table would pass a rows-only check).

    ``output_mode`` (r15): "complete" replays everything into final
    state — watermarks drop nothing there, which is exactly why the
    LATE-DATA path needs "append": emitted rows are only the windows
    the advancing watermark closed, and late rows really are dropped
    before the state update. The memory sink accumulates each batch's
    appended rows, so the returned table is the union of emissions."""
    spark = result.sparkSession
    for q in spark.streams.active:
        if q.name == query_name:
            q.stop()
    q = (
        result.writeStream.format("memory")
        .queryName(query_name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(int(timeout_sec))
    if q.exception() is not None:
        raise q.exception()
    if q.isActive:
        q.stop()
        raise TimeoutError(
            f"streaming replay '{query_name}' still active after "
            f"{timeout_sec}s"
        )
    return spark.table(query_name)
