"""The benchmark workloads: ``frame_tpch`` (an interactive analysis
session over a star schema) and ``curate_ingest`` (a bulk pipeline that
curates a text corpus and round-trips event batches through files and a
stream).

A workload is a fixed mix of steps run as one pass; the benchmark runs
passes back to back (closed loop, one client). A step has a ``build``
(construct the plan: the package's verbs and operators, plus any eager
jobs they run) and an ``act`` (the action that completes it); its output
is checked by ``check`` after the pass, outside the timed window.
"""

from __future__ import annotations

import glob
import os
import shutil
from collections.abc import Callable
from dataclasses import dataclass, field

import numpy as np
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from . import checks, datagen


@dataclass
class Step:
    name: str
    layer: str
    build: Callable[[], object]
    act: Callable[[object], object] = lambda df: df.toPandas()
    check: Callable[[object], bool] = lambda out: True


@dataclass
class Workload:
    name: str
    input_rows: int
    steps: Callable[[int], list[Step]]
    after_pass: Callable[[int], None] = lambda i: None
    # (module, public function, layer) pairs spanned in traced runs
    wrapped: list[tuple[object, str, str]] = field(default_factory=list)
    # ingest only: files and bytes written so far, and input parquet bytes
    stats: dict = field(default_factory=dict)
    input_bytes: int = 0
    # fewest passes one measurement takes
    min_passes: int = 1


def _oracle_steps(spark, entry, con, sf_dir: str, plan: list[tuple[str, str]]):
    """Steps that reuse ``__spark_entry__`` queries, each checked against
    its DuckDB twin computed once on the same generated inputs."""
    queries, twins = entry.queries(), entry.oracle_sql()
    expected = {q: checks.fingerprint(con.execute(twins[q]).fetchdf())
                for q, _ in plan}

    def make(q: str, layer: str) -> Step:
        return Step(
            q, layer,
            build=lambda: queries[q](spark, sf_dir),
            check=lambda out: checks.same(checks.fingerprint(out), expected[q]),
        )

    return lambda _pass: [make(q, layer) for q, layer in plan]


def _duck(sf_dir: str, tables: list[str]):
    import duckdb

    con = duckdb.connect()
    for t in tables:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


FRAME_TPCH = [
    ("q1_pricing_summary", "frame"),      # filter + grouped summarize
    ("q3_shipping_priority", "frame"),    # 3-way join, arrange + head
    ("q5_nation_revenue", "frame"),       # 5-way star join
    ("q6_revenue_delta", "frame"),        # filter + ungrouped reduce
    ("arrange_head", "frame"),            # arrange + head
    ("summarize_stats", "frame"),         # grouped mean/sum/min/max/var/sd
    ("grouped_mutate_150k", "frame"),     # grouped mutate, one group per order
    ("gather_melt", "frame"),             # wide -> long
    ("spread_pivot", "frame"),            # long -> wide
    ("window_rank", "frame"),             # row_number window
]

CORPUS = [
    ("text_quality", "functions"),        # functions.text kernels only
    ("dedup_exact", "operators"),
    ("dedup_minhash", "operators"),
    ("tfidf_top_terms", "operators"),
    ("line_dedup", "operators"),
]


def frame_tpch(spark, entry, inputs: str, rows: int) -> Workload:
    con = _duck(inputs, ["region", "nation", "customer", "supplier",
                         "orders", "lineitem", "events"])
    # a pass is about half as long as curate_ingest's, and its short
    # parallel stages stretch most when the host takes CPU time, so each
    # measurement takes two passes
    return Workload("frame_tpch", rows,
                    _oracle_steps(spark, entry, con, inputs, FRAME_TPCH),
                    min_passes=2)


def corpus_curation(spark, entry, inputs: str, rows: int) -> Workload:
    con = _duck(inputs, ["documents"])
    from datamancer_spark.functions import text
    from datamancer_spark.operators import dedup, quality, tfidf

    wl = Workload("corpus_curation", rows,
                  _oracle_steps(spark, entry, con, inputs, CORPUS))
    wl.wrapped = [
        (text, "quality_score", "functions"),
        (dedup, "exact_dedup", "operators"),
        (dedup, "minhash_lsh_pairs", "operators"),
        (tfidf, "tfidf", "operators"),
        (quality, "line_dedup_global", "operators"),
    ]
    return wl


def _part_files(path: str) -> list[str]:
    return [p for p in glob.glob(f"{path}/*")
            if not os.path.basename(p).startswith(("_", "."))]


def ingest_roundtrip(spark, entry, inputs: str, rows: int) -> Workload:
    """Write the seeded events as parquet, CSV and JSONL into a fresh
    directory per pass, read each back and aggregate it, and replay the
    parquet copy through a streaming tumbling-window aggregate."""
    import datamancer_spark.io as dio
    from datamancer_spark import streaming as st
    from datamancer_spark.functions.rounding import prnd

    src_dir = f"{inputs}/events.parquet"
    pdf = pq.read_table(src_dir).to_pandas()

    def rounded(g):
        out = g["value"].agg(["count", "sum"]).rename(columns={"count": "n", "sum": "total"})
        out["total"] = np.floor(out["total"] * 100 + 0.5) / 100
        return out.reset_index()

    by_type = checks.fingerprint(rounded(pdf.groupby("event_type")))
    hourly = checks.fingerprint(
        rounded(pdf.assign(bucket=pdf["ts"].dt.floor("h")).groupby("bucket"))
    )
    schema = spark.read.parquet(src_dir).schema
    in_bytes = sum(os.path.getsize(p) for p in _part_files(src_dir))
    stats = {"write_files": 0, "bytes_written": 0}
    pass_root = f"{inputs}/passes"

    def summary(frame):
        return frame.group_by("event_type").summarize(
            n=F.count(F.lit(1)), total=prnd(F.sum("value"), 2)
        ).df

    def steps(i: int) -> list[Step]:
        out = f"{pass_root}/{i}"
        stream_name = f"ingest_hourly_{i}"

        def written(path):
            def act(frame_and_writer):
                frame, writer = frame_and_writer
                writer(frame, path)
                return _part_files(path)
            return act

        def files_ok(files):
            stats["write_files"] += len(files)
            stats["bytes_written"] += sum(os.path.getsize(p) for p in files)
            return len(files) > 0

        def stream_build():
            stream = st.read_parquet_stream(
                spark, f"{out}/events.parquet", schema,
                {"maxFilesPerTrigger": "2"},
            )
            return st.tumbling_agg(
                stream, "ts", window="1 hour", watermark="1 hour",
                n=F.count(F.lit(1)), total=prnd(F.sum("value"), 2),
            )

        def stream_act(agg):
            pdf = st.replay_available_now(agg, stream_name).toPandas()
            spark.catalog.dropTempView(stream_name)
            return pdf

        def same(want):
            return lambda got: checks.same(checks.fingerprint(got), want)

        return [
            Step("write_parquet", "io",
                 lambda: (dio.read_parquet(spark, src_dir), dio.write_parquet),
                 written(f"{out}/events.parquet"), files_ok),
            Step("write_csv", "io",
                 lambda: (dio.read_parquet(spark, src_dir), dio.write_csv),
                 written(f"{out}/events.csv"), files_ok),
            Step("write_jsonl", "io",
                 lambda: (dio.read_parquet(spark, src_dir), dio.write_jsonl),
                 written(f"{out}/events.jsonl"), files_ok),
            Step("load_parquet_agg", "io",
                 lambda: summary(entry.load_tables(spark, out, ["events"])["events"]),
                 check=same(by_type)),
            Step("read_csv_agg", "io",
                 lambda: summary(dio.read_csv(spark, f"{out}/events.csv")),
                 check=same(by_type)),
            Step("read_jsonl_agg", "io",
                 lambda: summary(dio.read_jsonl(spark, f"{out}/events.jsonl")),
                 check=same(by_type)),
            Step("stream_hourly", "streaming", stream_build, stream_act,
                 same(hourly)),
        ]

    wl = Workload("ingest_roundtrip", rows, steps,
                  after_pass=lambda i: shutil.rmtree(f"{pass_root}/{i}", True))
    wl.wrapped = [
        (dio, "read_parquet", "io"),
        (dio, "read_csv", "io"),
        (dio, "read_jsonl", "io"),
        (dio, "write_parquet", "io"),
        (dio, "write_csv", "io"),
        (dio, "write_jsonl", "io"),
        (st, "read_parquet_stream", "streaming"),
        (st, "tumbling_agg", "streaming"),
        (st, "replay_available_now", "streaming"),
    ]
    wl.stats, wl.input_bytes = stats, in_bytes
    return wl


def curate_ingest(spark, entry, inputs: str, rows: int) -> Workload:
    """Each pass runs the corpus curation steps, then the ingest round
    trip, over one input directory."""
    corpus = corpus_curation(spark, entry, inputs, rows)
    ingest = ingest_roundtrip(spark, entry, inputs, rows)
    return Workload(
        "curate_ingest", rows,
        steps=lambda i: corpus.steps(i) + ingest.steps(i),
        after_pass=ingest.after_pass,
        wrapped=corpus.wrapped + ingest.wrapped,
        stats=ingest.stats,
        input_bytes=ingest.input_bytes,
    )


def _curate_ingest_inputs(out: str, seed: int, scale: str) -> int:
    return datagen.documents(out, seed, scale) + datagen.ingest_events(out, seed, scale)


# workload name -> (input generator, workload constructor)
WORKLOADS = {
    "frame_tpch": (datagen.tpch, frame_tpch),
    "curate_ingest": (_curate_ingest_inputs, curate_ingest),
}
