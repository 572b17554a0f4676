"""CSV reader option parity with the reference's readCsv surface
(io.nim:686-784): sep, header, comment headers, skip lines, max lines,
col renames, NaN/Inf literals, quoted fields, type inference."""

import os
import tempfile

import pytest

from datamancer_spark.io import read_csv, read_parquet, write_csv, write_parquet


def _tmpcsv(content: str) -> str:
    fd, path = tempfile.mkstemp(suffix=".csv")
    with os.fdopen(fd, "w") as f:
        f.write(content)
    return path


def test_basic_inference(spark):
    p = _tmpcsv("a,b,c\n1,2.5,x\n2,3.5,y\n")
    df = read_csv(spark, p)
    types = dict(df.df.dtypes)
    assert types["a"] in ("int", "bigint") and types["b"] == "double" and types["c"] == "string"
    assert df.count_rows() == 2


def test_int_meets_float_promotes(spark):
    # reference promotes int column to float mid-parse (io.nim:332-397)
    p = _tmpcsv("a\n1\n2\n3.5\n")
    df = read_csv(spark, p)
    assert dict(df.df.dtypes)["a"] == "double"


def test_comment_header(spark):
    # '#'-prefixed header lines are skipped (io.nim comment handling)
    p = _tmpcsv("# generated file\na,b\n1,2\n")
    df = read_csv(spark, p)
    assert df.columns == ["a", "b"] and df.count_rows() == 1


def test_custom_sep_and_quote(spark):
    p = _tmpcsv('a;b\n"x;y";2\n')
    df = read_csv(spark, p, sep=";")
    row = df.collect()[0]
    assert row["a"] == "x;y" and row["b"] == 2


def test_skip_lines(spark):
    p = _tmpcsv("junk line\nmore junk\na,b\n1,2\n")
    df = read_csv(spark, p, skip_lines=2)
    assert df.columns == ["a", "b"] and df.count_rows() == 1


def test_max_lines(spark):
    p = _tmpcsv("a\n1\n2\n3\n4\n")
    assert read_csv(spark, p, max_lines=2).count_rows() == 2


def test_col_names_override(spark):
    p = _tmpcsv("a,b\n1,2\n")
    df = read_csv(spark, p, col_names=["x", "y"])
    assert df.columns == ["x", "y"]


def test_nan_inf_literals(spark):
    # reference parses NaN/Inf literals (io.nim:217-307)
    p = _tmpcsv("a\n1.5\nNaN\nInf\n-Inf\n")
    vals = [r["a"] for r in read_csv(spark, p).collect()]
    import math

    assert vals[0] == 1.5
    assert math.isnan(vals[1])
    assert vals[2] == float("inf") and vals[3] == float("-inf")


def test_csv_roundtrip(spark):
    from datamancer_spark import to_df

    d = to_df({"x": [1, 2, 3], "s": ["a", "b", "c"]}, spark)
    out = tempfile.mkdtemp() + "/csv_out"
    write_csv(d, out)
    back = spark.read.option("header", True).option("inferSchema", True).csv(out)
    assert sorted(tuple(r) for r in back.collect()) == [(1, "a"), (2, "b"), (3, "c")]


def test_parquet_roundtrip_partitioned(spark):
    from datamancer_spark import to_df

    d = to_df({"x": [1, 2, 3, 4], "g": ["a", "a", "b", "b"]}, spark)
    out = tempfile.mkdtemp() + "/pq_out"
    write_parquet(d, out, partition_by=["g"])
    back = read_parquet(spark, out)
    assert back.count_rows() == 4
    # partition pruning must reach the scan (PartitionFilters), so only
    # the g=a directory is read
    from pyspark.sql import functions as F

    from datamancer_spark.plans import has_partition_filter

    pruned = back.df.filter(F.col("g") == "a")
    assert has_partition_filter(pruned, "g")
    assert pruned.count() == 2


def test_to_html_and_org(spark):
    from datamancer_spark import to_df, to_html, to_org_table

    d = to_df({"x": [1], "y": ["v"]}, spark)
    assert "<table" in to_html(d)
    org = to_org_table(d)
    assert org.splitlines()[0].startswith("| x | y |".replace(" ", " "))


class TestJsonl:
    def test_roundtrip_nested(self, spark, tmp_path):
        from datamancer_spark import read_jsonl, write_jsonl
        from datamancer_spark.frame import DamFrame

        df = DamFrame(
            spark.createDataFrame(
                [(1, "a", {"k": "v"}), (2, "b", {"k": "w"})],
                "id long, text string, meta map<string,string>",
            )
        )
        p = str(tmp_path / "docs_jsonl")
        write_jsonl(df, p)
        back = read_jsonl(spark, p, schema="id long, text string, meta map<string,string>")
        rows = {r["id"]: (r["text"], dict(r["meta"])) for r in back.collect()}
        assert rows == {1: ("a", {"k": "v"}), 2: ("b", {"k": "w"})}

    def test_corrupt_lines_dropped_or_kept(self, spark, tmp_path):
        from datamancer_spark import read_jsonl

        p = tmp_path / "mixed.jsonl"
        p.write_text('{"id": 1, "text": "ok"}\nnot json at all\n{"id": 2, "text": "fine"}\n')
        clean = read_jsonl(spark, str(p), schema="id long, text string")
        assert sorted(r["id"] for r in clean.collect()) == [1, 2]
        # count-only plans prune every data column; a PERMISSIVE+filter
        # implementation then references only _corrupt_record and Spark
        # raises UNSUPPORTED_FEATURE.QUERY_ONLY_CORRUPT_RECORD_COLUMN —
        # the drop path must be DROPMALFORMED (ADVICE r3)
        assert clean.df.count() == 2
        assert "_corrupt_record" not in clean.df.columns
        kept = read_jsonl(spark, str(p), schema="id long, text string", keep_corrupt=True)
        corrupt = [r for r in kept.collect() if r["_corrupt_record"] is not None]
        assert len(corrupt) == 1 and corrupt[0]["_corrupt_record"] == "not json at all"

    def test_schema_inference_fallback(self, spark, tmp_path):
        from datamancer_spark import read_jsonl

        p = tmp_path / "infer.jsonl"
        p.write_text('{"id": 1, "x": 1.5}\n{"id": 2, "x": 2.5}\n')
        df = read_jsonl(spark, str(p))
        assert {f.name for f in df.df.schema} == {"id", "x"}
        assert df.df.count() == 2


class TestOrc:
    def test_roundtrip_and_partitioning(self, spark, tmp_path):
        from datamancer_spark import read_orc, write_orc
        from datamancer_spark.frame import DamFrame

        df = DamFrame(
            spark.createDataFrame(
                [(1, "a", "en"), (2, "b", "de"), (3, "c", "en")],
                "id long, text string, lang string",
            )
        )
        p = str(tmp_path / "docs_orc")
        write_orc(df, p, partition_by=["lang"])
        back = read_orc(spark, p)
        assert {r["id"] for r in back.collect()} == {1, 2, 3}
        # partition pruning: lang filter must not appear as a data filter
        import os
        assert any(d.startswith("lang=") for d in os.listdir(p))

    def test_pushdown_in_plan(self, spark, tmp_path):
        from datamancer_spark import read_orc, write_orc
        from datamancer_spark.frame import DamFrame

        df = DamFrame(spark.range(100).withColumnRenamed("id", "v"))
        p = str(tmp_path / "nums_orc")
        write_orc(df, p)
        plan = (
            read_orc(spark, p).df.filter("v > 50").select("v")
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "PushedFilters: [IsNotNull(v), GreaterThan(v,50)]" in plan


class TestXmlRoundtrip:
    def test_roundtrip_preserves_rows(self, spark, tmp_path):
        from datamancer_spark.frame import DamFrame
        from datamancer_spark.io import read_xml, write_xml

        df = spark.createDataFrame(
            [(1, "alpha", 1.5), (2, "beta <&> quoted", None)],
            "id long, name string, score double",
        )
        p = str(tmp_path / "x")
        write_xml(DamFrame(df), p, row_tag="doc", root_tag="docs")
        back = read_xml(
            spark, p, row_tag="doc", schema="id long, name string, score double"
        )
        rows = {r["id"]: r for r in back.df.collect()}
        assert rows[1]["name"] == "alpha" and rows[1]["score"] == 1.5
        # XML escaping round-trips special characters; missing element -> NULL
        assert rows[2]["name"] == "beta <&> quoted" and rows[2]["score"] is None


class TestParquetBloomAndCompaction:
    def test_bloom_filter_cols_written_and_roundtrip(self, spark, tmp_path):
        """r11 point-lookup lever: bloom-filtered columns must grow the
        written bytes (the filter is stored per row group) while the
        data round-trips identically; unknown columns fail eagerly."""
        import glob

        import pytest as _pt

        from datamancer_spark.frame import DamFrame as _DF
        from datamancer_spark.io import write_parquet

        d = _DF(
            spark.range(20000).selectExpr(
                "id", "md5(cast(id as string)) as fp"
            ).coalesce(1)
        )
        plain, bloomed = str(tmp_path / "plain"), str(tmp_path / "bloom")
        write_parquet(d, plain)
        write_parquet(d, bloomed, bloom_filter_cols=["fp"],
                      bloom_filter_ndv=20000)
        size = lambda p: sum(  # noqa: E731
            os.path.getsize(f) for f in glob.glob(p + "/*.parquet")
        )
        assert size(bloomed) > size(plain)
        back = sorted(
            tuple(r) for r in spark.read.parquet(bloomed).collect()
        )
        want = sorted(tuple(r) for r in d.df.collect())
        assert back == want
        with _pt.raises(ValueError):
            write_parquet(d, str(tmp_path / "x"),
                          bloom_filter_cols=["nope"])


class TestUrlIngestion:
    """read_csv URL arm (VERDICT r12 #5): the fetched payload must land
    in the WAREHOUSE filesystem — executor-visible shared storage on a
    real cluster — not a driver-local tempfile path that remote
    executors could never open."""

    def _serve_once(self, payload: bytes):
        import http.server
        import threading

        hits = {"n": 0}

        class H(http.server.BaseHTTPRequestHandler):
            def do_GET(self):  # noqa: N802
                hits["n"] += 1
                self.send_response(200)
                self.send_header("Content-Type", "text/csv")
                self.send_header("Content-Length", str(len(payload)))
                self.end_headers()
                self.wfile.write(payload)

            def log_message(self, *a):  # quiet
                pass

        srv = http.server.HTTPServer(("127.0.0.1", 0), H)
        srv.request_count = hits
        threading.Thread(target=srv.serve_forever, daemon=True).start()
        return srv

    def test_url_read_stages_into_warehouse(self, spark):
        body = b"a,b\n1,x\n2,y\n3,z\n"
        srv = self._serve_once(body)
        try:
            url = f"http://127.0.0.1:{srv.server_address[1]}/t.csv"
            # the staged path is content-addressed by URL, and the URL
            # contains an OS-recycled ephemeral port — purge any staged
            # copy a PREVIOUS pytest run left for this port, or the
            # exists() short-circuit serves it and the first read makes
            # 0 origin requests (flaky across runs)
            import hashlib as _hashlib
            import shutil

            wh0 = spark.conf.get(
                "spark.sql.warehouse.dir", "spark-warehouse"
            ).removeprefix("file:")
            stale = (
                f"{wh0.rstrip('/')}/_staged_urls/"
                f"{_hashlib.md5(url.encode()).hexdigest()[:16]}.csv"
            )
            shutil.rmtree(stale, ignore_errors=True)
            import os as _os

            if _os.path.exists(stale):
                _os.remove(stale)
            out = read_csv(spark, url)
            rows = sorted(tuple(r) for r in out.collect())
            assert rows == [(1, "x"), (2, "y"), (3, "z")]
            # the staged copy lives under the warehouse dir (shared
            # storage on a cluster), content-addressed by URL
            import glob
            import hashlib

            wh = spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse")
            wh = wh.removeprefix("file:")
            digest = hashlib.md5(url.encode()).hexdigest()[:16]
            hits = glob.glob(f"{wh.rstrip('/')}/_staged_urls/{digest}.csv")
            assert hits, "fetched CSV not staged into the warehouse FS"
            assert open(hits[0], "rb").read() == body
            # repeat read reuses the staged copy WITHOUT re-fetching
            # (ADVICE r13): the second read_csv must not hit the origin
            assert srv.request_count["n"] == 1
            again = sorted(tuple(r) for r in read_csv(spark, url).collect())
            assert again == rows
            assert srv.request_count["n"] == 1, (
                "repeat URL read re-downloaded instead of reusing the "
                "staged warehouse copy"
            )
        finally:
            srv.shutdown()


class TestClusterBy:
    """write_parquet(cluster_by=...) (r13): range clustering must make
    parquet min/max row-group stats selective for range predicates —
    the data-skipping lever. Pinned via pyarrow row-group metadata:
    after a clustered write, only ~the selectivity fraction of row
    groups can overlap a narrow key range; an unclustered multi-file
    write leaves (nearly) every row group overlapping it."""

    def _overlap_fraction(self, path, lo, hi):
        import glob

        import pyarrow.parquet as pq

        total = overlapping = 0
        for f in glob.glob(path + "/*.parquet"):
            md = pq.ParquetFile(f).metadata
            for rg in range(md.num_row_groups):
                col = md.row_group(rg).column(0)  # ts is column 0
                total += 1
                st = col.statistics
                if st is None or not st.has_min_max:
                    overlapping += 1  # no stats = unskippable
                    continue
                if not (st.max < lo or st.min > hi):
                    overlapping += 1
        assert total >= 8, f"need multi-row-group layout, got {total}"
        return overlapping / total

    def test_range_clustered_write_skips_row_groups(self, spark, tmp_path):
        from datamancer_spark.frame import DamFrame
        from datamancer_spark.io import write_parquet

        # keys arrive hash-scattered (the realistic ingest order)
        df = spark.range(200_000).selectExpr(
            "cast(hash(id) % 100000 as long) as ts",
            "id as payload",
        ).repartition(16)
        plain = str(tmp_path / "plain")
        clustered = str(tmp_path / "clustered")
        write_parquet(DamFrame(df), plain)
        write_parquet(
            DamFrame(df), clustered, cluster_by=["ts"], cluster_files=16
        )
        lo, hi = 10_000, 15_000  # ~5% of the key range
        f_plain = self._overlap_fraction(plain, lo, hi)
        f_clustered = self._overlap_fraction(clustered, lo, hi)
        # unclustered: every row group spans ~the full range
        assert f_plain > 0.9, f_plain
        # clustered: only the range's neighborhood overlaps
        assert f_clustered < 0.35, f_clustered
        # and the data round-trips identically
        a = spark.read.parquet(plain).agg({"payload": "sum"}).collect()
        b = spark.read.parquet(clustered).agg({"payload": "sum"}).collect()
        assert a == b

    def test_cluster_by_unknown_column_raises(self, spark, tmp_path):
        import pytest as _pt

        from datamancer_spark.frame import DamFrame
        from datamancer_spark.io import write_parquet

        d = DamFrame(spark.range(10).selectExpr("id as x"))
        with _pt.raises(ValueError, match="cluster_by"):
            write_parquet(d, str(tmp_path / "o"), cluster_by=["nope"])


class TestSchemaEvolution:
    """read_parquet(merge_schema=True) (r13): files written under
    evolved schemas reconcile to the union schema, with NULLs for
    columns a file predates — the long-lived-dataset reality."""

    def test_merge_schema_unions_columns(self, spark, tmp_path):
        from datamancer_spark.io import read_parquet

        v1 = str(tmp_path / "snap=1")
        v2 = str(tmp_path / "snap=2")
        spark.range(3).selectExpr("id", "id * 2 as a").write.parquet(v1)
        spark.range(3, 6).selectExpr(
            "id", "id * 2 as a", "id * 3 as b"  # b added later
        ).write.parquet(v2)
        out = read_parquet(spark, v1, v2, merge_schema=True)
        assert set(out.columns) == {"id", "a", "b"}
        rows = {r["id"]: (r["a"], r["b"]) for r in out.collect()}
        assert rows[1] == (2, None)  # pre-evolution file: b is NULL
        assert rows[4] == (8, 12)
        # default path (no merge) stays single-pass and keeps working
        assert read_parquet(spark, v1).count_rows() == 3


class TestLoadTablesCache:
    """r15-opt witness: load_tables caches the LAZY per-session table
    handle (spark.read.parquet pays driver-side FileIndex + footer
    work per call), keyed by file identity so regenerated testdata
    invalidates — no data or results are ever cached."""

    def test_handle_reused_and_invalidated(self, spark, tmp_path):
        import os
        import shutil

        from datamancer_spark.io import load_tables

        d = str(tmp_path / "sf")
        os.makedirs(d)
        spark.range(5).selectExpr(
            "id as o_orderkey", "'O' as o_orderstatus"
        ).coalesce(1).write.parquet(str(tmp_path / "_stage"))
        src = next(
            p for p in os.listdir(str(tmp_path / "_stage"))
            if p.endswith(".parquet")
        )
        shutil.copy(
            str(tmp_path / "_stage" / src), f"{d}/orders.parquet"
        )

        a = load_tables(spark, d, ["orders"])["orders"].df
        b = load_tables(spark, d, ["orders"])["orders"].df
        assert a is b  # same lazy handle within the session
        assert b.count() == 5

        # regenerated file (different identity) -> fresh handle + data
        spark.range(7).selectExpr(
            "id as o_orderkey", "'F' as o_orderstatus"
        ).coalesce(1).write.parquet(str(tmp_path / "_stage2"))
        src2 = next(
            p for p in os.listdir(str(tmp_path / "_stage2"))
            if p.endswith(".parquet")
        )
        shutil.copy(
            str(tmp_path / "_stage2" / src2), f"{d}/orders.parquet"
        )
        os.utime(f"{d}/orders.parquet", ns=(1, 1))  # force mtime change
        c = load_tables(spark, d, ["orders"])["orders"].df
        assert c is not b
        assert c.count() == 7

    def test_events_ts_normalization_survives_cache(self, spark):
        from pyspark.sql.types import LongType

        from datamancer_spark.io import load_tables

        for _ in range(2):  # second call is the cache hit
            ev = load_tables(
                spark, "/root/testdata/sf0.001", ["events"]
            )["events"].df
            assert not isinstance(ev.schema["ts"].dataType, LongType)

    @pytest.mark.parametrize(
        "key, drifted",
        [
            ("spark.sql.session.timeZone", "America/New_York"),
            ("spark.sql.ansi.enabled", "true"),
        ],
        ids=["timeZone", "ansi"],
    )
    def test_sentinel_conf_reasserted_on_cache_hit(self, spark, key, drifted):
        """r16 (ADVICE r15): a foreign driver mutating ANY required conf
        mid-session is healed on the next load_tables call, cache hit
        or not."""
        from datamancer_spark.io import load_tables
        from datamancer_spark.session import _RUNTIME_DEFAULTS

        load_tables(spark, "/root/testdata/sf0.001", ["orders"])
        spark.conf.set(key, drifted)
        try:
            load_tables(spark, "/root/testdata/sf0.001", ["orders"])
            assert spark.conf.get(key) == _RUNTIME_DEFAULTS[key]
        finally:
            spark.conf.set(key, _RUNTIME_DEFAULTS[key])

    @pytest.mark.parametrize("partitioned", [False, True],
                             ids=["flat", "partitioned"])
    def test_directory_dataset_inplace_rewrite_invalidates(
        self, spark, tmp_path, partitioned
    ):
        """r16 (ADVICE r15): for a Spark-written DIRECTORY dataset the
        signature folds the stats of every member file in, down through
        ``key=value/`` partition subdirectories, so an in-place rewrite
        that leaves every directory inode's own stats unchanged still
        yields a fresh handle."""
        import os
        import shutil

        from datamancer_spark.io import load_tables

        d = str(tmp_path / "sf")
        os.makedirs(d)
        tbl = f"{d}/orders.parquet"  # a DIRECTORY this time
        cols = ["id as o_orderkey"] + (["id % 2 as part"] if partitioned else [])
        w = spark.range(5).selectExpr(*cols).coalesce(1).write
        member_dir = tbl
        if partitioned:
            w = w.partitionBy("part")
            member_dir = f"{tbl}/part=0"  # holds keys 0, 2, 4
        w.parquet(tbl)
        a = load_tables(spark, d, ["orders"])["orders"].df
        assert a.count() == 5

        # rewrite the member file in place; pin the directories' own
        # stats so only the member signature can catch the change
        pinned = {p: os.stat(p) for p in {tbl, member_dir}}
        spark.range(9).selectExpr(
            "id as o_orderkey"
        ).coalesce(1).write.parquet(str(tmp_path / "_stage"))
        src = next(
            p
            for p in os.listdir(str(tmp_path / "_stage"))
            if p.endswith(".parquet")
        )
        member = next(
            p for p in os.listdir(member_dir) if p.endswith(".parquet")
        )
        shutil.copyfile(
            str(tmp_path / "_stage" / src), f"{member_dir}/{member}"
        )
        # drop Hadoop LocalFS checksum sidecars invalidated by the
        # in-place copy (an object-store rewrite has no sidecars)
        for p in os.listdir(member_dir):
            if p.endswith(".crc"):
                os.remove(f"{member_dir}/{p}")
        for p, st in pinned.items():
            os.utime(p, ns=(st.st_atime_ns, st.st_mtime_ns))
        b = load_tables(spark, d, ["orders"])["orders"].df
        assert b is not a
        # partitioned: 9 rewritten rows in part=0 plus keys 1, 3 in part=1
        assert b.count() == (11 if partitioned else 9)


def _jobs(spark, build):
    """``build()`` and the number of Spark jobs it ran (setJobGroup +
    statusTracker)."""
    import uuid

    sc = spark.sparkContext
    group = f"io-jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = build()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


class TestSchemaRecord:
    """A plain write_csv / write_jsonl / write_parquet records the
    schema it wrote; the readers use it for an unchanged directory in
    the writer's dialect (no inference job, the writer's exact types)
    and infer as before for anything else."""

    DDL = "l long, d double, s string, b boolean, dt date, ts timestamp"

    @staticmethod
    def _rows(n0=1, n=2):
        import datetime as dt

        utc = dt.timezone.utc
        return [
            (i, i + 0.5, f"s{i}", True, dt.date(2020, 1, i),
             dt.datetime(2020, 1, i, 3, 4, 5, tzinfo=utc))
            if i % 2 else (i, -0.25, None, False, None, None)
            for i in range(n0, n0 + n)
        ]

    @staticmethod
    def _io(fmt):
        from datamancer_spark import read_jsonl, write_jsonl

        return {
            "csv": (write_csv, read_csv),
            "jsonl": (write_jsonl, read_jsonl),
            "parquet": (write_parquet, read_parquet),
        }[fmt]

    @pytest.mark.parametrize("fmt", ["csv", "jsonl", "parquet"])
    def test_roundtrip_keeps_writer_types(self, spark, tmp_path, fmt):
        from datamancer_spark.frame import DamFrame

        rows, ddl = self._rows(), self.DDL
        if fmt != "csv":  # CSV cannot hold a map
            rows = [r + ({"k": r[0]},) for r in rows]
            ddl += ", m map<string,bigint>"
        df = spark.createDataFrame(rows, ddl)
        write, read = self._io(fmt)
        p = str(tmp_path / fmt)
        write(DamFrame(df), p)
        back, jobs = _jobs(spark, lambda: read(spark, p).df)
        assert jobs == 0
        assert back.schema == df.schema
        assert sorted(back.collect()) == sorted(df.collect())

    def test_parquet_record_equals_inference(self, spark, tmp_path):
        import json

        from pyspark.sql.types import StructType

        from datamancer_spark.frame import DamFrame
        from datamancer_spark.io import _RECORD

        p = str(tmp_path / "pq")
        df = spark.createDataFrame(self._rows(), self.DDL).selectExpr(
            "*", "map('k', l) m", "array(d) a", "named_struct('x', s) st"
        )
        write_parquet(DamFrame(df), p)
        with open(os.path.join(p, _RECORD)) as f:
            recorded = StructType.fromJson(json.load(f)["schema"])
        inferred = spark.read.parquet(p).schema
        assert read_parquet(spark, p).df.schema == inferred
        # Spark writes parquet columns nullable; compare on that basis
        assert recorded.simpleString() == inferred.simpleString()

    @pytest.mark.parametrize("change", ["added", "removed"])
    @pytest.mark.parametrize("fmt", ["csv", "jsonl", "parquet"])
    def test_changed_files_fall_back_to_inference(
        self, spark, tmp_path, fmt, change
    ):
        import shutil

        from pyspark.sql import functions as F

        from datamancer_spark.frame import DamFrame

        write, read = self._io(fmt)
        df = spark.createDataFrame(self._rows(), self.DDL)
        p = str(tmp_path / fmt)
        # one part file per row: part-00000 holds l=1, part-00001 l=2
        write(DamFrame(df.repartitionByRange(2, "l")), p)
        parts = sorted(f for f in os.listdir(p) if f.startswith("part-"))
        assert len(parts) == 2
        if change == "added":
            extra = spark.createDataFrame(self._rows(3, 1), self.DDL)
            stage = str(tmp_path / "stage")
            write(DamFrame(extra.coalesce(1)), stage)
            src = next(f for f in os.listdir(stage) if f.startswith("part-"))
            shutil.copy(os.path.join(stage, src),
                        os.path.join(p, "part-foreign-" + src[5:]))
            want = df.union(extra)
        else:
            os.remove(os.path.join(p, parts[1]))
            want = df.filter("l = 1")
        back, jobs = _jobs(spark, lambda: read(spark, p).df)
        assert jobs > 0  # the schema was inferred, not taken on trust
        typed = back.select(
            [F.col(c).cast(t).alias(c) for c, t in df.dtypes]
        )
        assert sorted(typed.collect()) == sorted(want.collect())

    def test_reader_choices_skip_the_record(self, spark, tmp_path):
        from datamancer_spark import read_jsonl, write_jsonl
        from datamancer_spark.frame import DamFrame

        df = spark.createDataFrame(self._rows(), self.DDL)
        csv_dir, json_dir = str(tmp_path / "csv"), str(tmp_path / "jsonl")
        write_csv(DamFrame(df), csv_dir)
        write_jsonl(DamFrame(df), json_dir)

        # another separator: one column per line, as inference reads it
        other_sep, jobs = _jobs(
            spark, lambda: read_csv(spark, csv_dir, sep=";").df
        )
        assert jobs > 0
        assert other_sep.columns == [",".join(df.columns)]
        assert other_sep.count() == 2
        # infer_schema=False: every column a string
        raw = read_csv(spark, csv_dir, infer_schema=False).df
        assert set(dict(raw.dtypes).values()) == {"string"}
        assert sorted(r["l"] for r in raw.collect()) == ["1", "2"]
        # the writer's dialect still reads l as the recorded long
        # (inference would give int)
        assert dict(read_csv(spark, csv_dir).df.dtypes)["l"] == "bigint"
        # an explicit schema wins over the record
        typed = read_jsonl(spark, json_dir, schema="l long, s string").df
        assert typed.columns == ["l", "s"]
        assert sorted(tuple(r) for r in typed.collect()) == [
            (1, "s1"), (2, None)
        ]

    def test_keep_corrupt_appends_to_recorded_schema(self, spark, tmp_path):
        from datamancer_spark import read_jsonl, write_jsonl
        from datamancer_spark.frame import DamFrame

        df = spark.createDataFrame(self._rows(), self.DDL)
        p = str(tmp_path / "jsonl")
        write_jsonl(DamFrame(df), p)
        back, jobs = _jobs(
            spark, lambda: read_jsonl(spark, p, keep_corrupt=True).df
        )
        assert jobs == 0
        assert back.columns == df.columns + ["_corrupt_record"]
        assert [r["_corrupt_record"] for r in back.collect()] == [None] * 2

    def test_read_parquet_handle_cached_until_rewrite(self, spark, tmp_path):
        import shutil

        from datamancer_spark.frame import DamFrame

        p = str(tmp_path / "pq")
        write_parquet(DamFrame(spark.range(5).coalesce(1)), p)
        a = read_parquet(spark, p).df
        assert read_parquet(spark, p).df is a
        assert a.count() == 5

        # rewrite the member file in place, directory stats pinned
        pinned = os.stat(p)
        spark.range(9).coalesce(1).write.parquet(str(tmp_path / "_stage"))
        src = next(
            f for f in os.listdir(str(tmp_path / "_stage"))
            if f.endswith(".parquet")
        )
        member = next(f for f in os.listdir(p) if f.endswith(".parquet"))
        shutil.copyfile(str(tmp_path / "_stage" / src), f"{p}/{member}")
        for f in os.listdir(p):
            if f.endswith(".crc"):
                os.remove(f"{p}/{f}")
        os.utime(p, ns=(pinned.st_atime_ns, pinned.st_mtime_ns))
        b = read_parquet(spark, p).df
        assert b is not a
        assert b.count() == 9
