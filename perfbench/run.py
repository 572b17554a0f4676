"""Benchmark for datamancer_spark: seeded, closed-loop workloads with
end-to-end metrics (untraced) and per-layer metrics (traced).

    python3 perfbench/run.py --workload frame_tpch --seed 1 --seconds 3 --trace 0

Run from the repository root. Every metric is printed as
``<name> <value> <unit>``; the last line is one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics``. All files the run
writes (inputs, Spark scratch, warehouse, streaming checkpoints) live
under ``perfbench/.work`` and are removed at exit; traced runs keep
their spans in ``perfbench/.traces``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

sys.dont_write_bytecode = True
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BENCH = os.path.join(ROOT, "perfbench")

END_TO_END = {
    "setup_s": "s", "run_s": "s", "query_p50_s": "s", "rows_per_s": "rows/s",
}
LAYERS = ("bench", "io", "frame", "plans", "operators", "functions", "streaming")
PER_LAYER = {
    # vary by more than a tenth from run to run, so not end-to-end
    "query_tail_s": "s", "cpu_s": "s", "peak_rss_mb": "MiB",
    "session.start_s": "s", "session.warmup_s": "s",
    "io.load_calls": "count", "io.load_s": "s",
    "io.read_call_s": "s", "io.read_jobs": "count",
    "io.write_s": "s", "io.write_files": "count", "io.bytes_per_input_byte": "ratio",
    "frame.build_s": "s", "frame.build_jobs": "count",
    "frame.exec_s": "s", "frame.task_s": "s", "frame.core_util": "ratio",
    "frame.shuffle_write_mb": "MiB", "frame.gc_s": "s",
    "plans.exchanges": "count",
    "operators.build_s": "s", "operators.build_jobs": "count",
    "operators.exec_s": "s", "operators.task_s": "s",
    "operators.python_cpu_s": "s", "operators.gc_s": "s",
    "functions.exec_s": "s",
    "streaming.replay_s": "s", "streaming.batches": "count",
    "streaming.add_batch_s": "s", "streaming.commit_s": "s",
    **{f"{layer}.failed_tasks": "count"
       for layer in ("io", "frame", "operators", "functions", "streaming")},
    **{f"{layer}.self_s": "s" for layer in LAYERS},
    "trace.overhead_s": "s",
}
SETUP_REPEATS = 3  # input generation is repeated; its median enters setup_s
# The first pass pays the JVM's and Spark's cold start (3-4x a later
# pass); a second warm-up pass would not fit the run-time budget.
WARMUP_PASSES = 1


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", choices=("full", "tiny"), default="full")
    return p.parse_args(argv)


def machine() -> tuple[int, int]:
    """Cores this process may use, and a driver heap (MiB) that fits in
    RAM alongside the Python workers: an eighth of RAM, 1-4 GiB."""
    cores = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        total_kb = int(f.readline().split()[1])
    heap = max(1024, min(4096, total_kb // 1024 // 8))
    return cores, heap


def isolate(work: str, cores: int, heap_mb: int) -> None:
    """Point every scratch location at ``work`` before Spark starts."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update({
        "TMPDIR": tmp,
        "PYTHONDONTWRITEBYTECODE": "1",
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_GRAFT_DRIVER_MEM": f"{heap_mb}m",
        # also reaches spark-submit's launcher JVM, which would otherwise
        # write its perf data under the system temp directory
        "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        "PYTHONPATH": os.pathsep.join(
            [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
        ),
    })
    import tempfile

    tempfile.tempdir = tmp


def spark_conf(work: str) -> dict[str, str]:
    tmp = os.path.join(work, "tmp")
    return {
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.streaming.checkpointLocation": os.path.join(work, "checkpoints"),
        "spark.sql.streaming.forceDeleteTempCheckpointLocation": "true",
        "spark.driver.extraJavaOptions":
            f"-Dderby.system.home={tmp}",
    }


def tail(samples: list[float]) -> tuple[float, float]:
    """The highest percentile with at least ten samples beyond it (the
    eleventh-largest sample), as (value, percentile). Below 21 samples
    that percentile would not lie above the median, so the largest
    sample is reported as p100 instead."""
    ordered = sorted(samples)
    n = len(ordered)
    if n < 21:
        return ordered[-1], 100.0
    return ordered[n - 11], 100.0 * (n - 10) / n


class Runner:
    def __init__(self, spark, wl, tracer, tree):
        from datamancer_spark import plans

        self.spark, self.wl, self.tracer, self.tree = spark, wl, tracer, tree
        self.plans = plans
        self.next_pass = 0
        self.attempted = self.failed = 0
        self.errors: list[str] = []
        self.pass_wall: dict[str, float] = {}  # run id -> pass wall time

    def one_pass(self, count: bool) -> tuple[float, list[float], float]:
        """Run every step once, then check outputs (untimed). Returns the
        pass wall time, per-step times and the pass CPU seconds."""
        i = self.next_pass
        self.next_pass += 1
        self.tracer.run_id = f"pass{i}"
        steps = self.wl.steps(i)
        results, times = [], []
        cpu0 = sum(self.tree.cpu().values())
        t_pass = time.perf_counter()
        with self.tracer.span("pass", "bench"):
            for step in steps:
                t0 = time.perf_counter()
                try:
                    with self.tracer.span(f"step.{step.name}", "bench"):
                        with self.tracer.span(f"{step.layer}.build", step.layer, full=True):
                            built = step.build()
                        if (self.tracer.enabled and hasattr(built, "_jdf")
                                and not built.isStreaming):
                            with self.tracer.span("plans.shuffle_count", "plans") as rec:
                                rec["exchanges"] = self.plans.shuffle_count(built)
                        with self.tracer.span(f"{step.layer}.exec", step.layer, full=True):
                            out = step.act(built)
                    results.append((step, out, None))
                except Exception as e:  # one failed query never aborts the run
                    results.append((step, None, e))
                times.append((step.name, time.perf_counter() - t0))
        wall = time.perf_counter() - t_pass
        cpu = sum(self.tree.cpu().values()) - cpu0
        self.pass_wall[self.tracer.run_id] = wall
        for step, out, err in results:
            ok = err is None
            if ok:
                try:
                    ok = bool(step.check(out))
                except Exception as e:
                    err, ok = e, False
            if not ok:
                self.errors.append(f"pass{i} {step.name}: {err!r}" if err
                                   else f"pass{i} {step.name}: wrong output")
            if count:
                self.attempted += 1
                self.failed += not ok
        del results
        self.wl.after_pass(i)
        for rdd in self.spark.sparkContext._jsc.getPersistentRDDs().values():
            rdd.unpersist(False)
        return wall, times, cpu

    def measure(self, seconds: float) -> dict:
        """Whole passes until ``seconds`` of pass time are measured, and
        at least the workload's ``min_passes``."""
        passes, steps, cpus = [], [], []
        by_step: dict[str, list[float]] = {}
        spent = 0.0
        while spent < seconds or len(passes) < self.wl.min_passes:
            wall, times, cpu = self.one_pass(count=True)
            passes.append(wall)
            cpus.append(cpu)
            for name, t in times:
                steps.append(t)
                by_step.setdefault(name, []).append(t)
            spent += wall
        return {"passes": passes, "steps": steps, "cpus": cpus, "by_step": by_step}


def per_layer(spans, n_passes, cores, wl, stream, write_stats, untraced, traced):
    def of(pred):
        return [s for s in spans if pred(s)]

    def total(ss, f):
        return sum(f(s) for s in ss) / n_passes

    dur = lambda s: s["end"] - s["start"]  # noqa: E731
    cnt = lambda key: (lambda s: s.get("counters", {}).get(key, 0))  # noqa: E731
    kids: dict[int, list[dict]] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append(s)
    index = {id(s): k for k, s in enumerate(spans)}

    def build_self(s):
        return dur(s) - sum(dur(c) for c in kids.get(index[id(s)], ()) if c["layer"] == "io")

    m: dict[str, float] = {}
    loads = of(lambda s: s["name"] == "io.load_tables")
    m["io.load_calls"] = len(loads) / n_passes
    m["io.load_s"] = total(loads, dur)
    reads = of(lambda s: s["name"] in ("io.read_parquet", "io.read_csv", "io.read_jsonl"))
    m["io.read_call_s"] = total(reads, dur)
    m["io.read_jobs"] = total(reads, cnt("jobs"))
    m["io.write_s"] = total(of(lambda s: s["name"].startswith("io.write_")), dur)
    m["io.write_files"] = write_stats["write_files"] / n_passes
    m["io.bytes_per_input_byte"] = (
        write_stats["bytes_written"] / n_passes / wl.input_bytes if wl.input_bytes else 0.0
    )
    for layer in ("frame", "operators"):
        builds = of(lambda s: s["name"] == f"{layer}.build")
        execs = of(lambda s: s["name"] == f"{layer}.exec")
        both = builds + execs
        m[f"{layer}.build_s"] = total(builds, build_self)
        m[f"{layer}.build_jobs"] = total(builds, cnt("jobs"))
        m[f"{layer}.exec_s"] = total(execs, dur)
        m[f"{layer}.task_s"] = total(both, cnt("task_ms")) / 1000
        m[f"{layer}.gc_s"] = total(both, cnt("gc_ms")) / 1000
    exec_s = m["frame.exec_s"]
    m["frame.core_util"] = (
        total(of(lambda s: s["name"] == "frame.exec"), cnt("task_ms")) / 1000
        / (exec_s * cores) if exec_s else 0.0
    )
    m["frame.shuffle_write_mb"] = total(
        of(lambda s: s["name"].startswith("frame.")), cnt("shuffle_write_bytes")
    ) / 2**20
    m["operators.python_cpu_s"] = total(
        of(lambda s: s["layer"] == "operators" and "cpu" in s),
        lambda s: s["cpu"]["python_workers"],
    )
    ex = of(lambda s: s["name"] == "plans.shuffle_count")
    m["plans.exchanges"] = sum(s["exchanges"] for s in ex) / len(ex) if ex else 0.0
    m["functions.exec_s"] = total(of(lambda s: s["name"] == "functions.exec"), dur)
    m["streaming.replay_s"] = total(
        of(lambda s: s["name"] == "streaming.replay_available_now"), dur
    )
    m["streaming.batches"] = stream.batches / n_passes if stream else 0.0
    m["streaming.add_batch_s"] = stream.add_batch_ms / 1000 / n_passes if stream else 0.0
    m["streaming.commit_s"] = stream.commit_ms / 1000 / n_passes if stream else 0.0
    for layer in ("io", "frame", "operators", "functions", "streaming"):
        m[f"{layer}.failed_tasks"] = total(
            of(lambda s: s["layer"] == layer and "cpu" in s), cnt("failed_tasks")
        )
    from perfbench.probes import self_times

    selfs = self_times(spans)
    for layer in LAYERS:
        m[f"{layer}.self_s"] = selfs.get(layer, 0.0) / n_passes
    m["trace.overhead_s"] = statistics.median(traced) - statistics.median(untraced)
    return m


def main(argv=None) -> int:
    args = parse_args(argv)
    cores, heap_mb = machine()
    sys.path.insert(0, ROOT)
    # fails (non-zero exit, no result line) where the package is absent
    import __spark_entry__ as entry
    from datamancer_spark import get_spark

    from perfbench import probes
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        raise SystemExit(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
    work = os.path.join(BENCH, ".work", f"{args.workload}-s{args.seed}-{os.getpid()}")
    isolate(work, cores, heap_mb)
    spark = None
    try:
        tree = probes.ProcTree()
        t0 = time.perf_counter()
        spark = get_spark(app_name="perfbench", master=f"local[{cores}]",
                          extra_conf=spark_conf(work))
        spark.sparkContext.setLogLevel("ERROR")
        start_s = time.perf_counter() - t0
        counters = probes.SparkCounters(spark)
        tracer = probes.Tracer(counters, tree)

        generate, build = WORKLOADS[args.workload]
        gen_s = []
        for k in range(SETUP_REPEATS):
            d = os.path.join(work, f"inputs{k}")
            t = time.perf_counter()
            rows = generate(d, args.seed, args.scale)
            gen_s.append(time.perf_counter() - t)
            if k:
                shutil.rmtree(d)
        wl = build(spark, entry, os.path.join(work, "inputs0"), rows)
        runner = Runner(spark, wl, tracer, tree)
        t_warm = time.perf_counter()
        for _ in range(WARMUP_PASSES):
            runner.one_pass(count=False)
        warmup_s = time.perf_counter() - t_warm
        setup_s = start_s + statistics.median(gen_s) + warmup_s

        steal0 = probes.host_steal()
        sampler = probes.RssSampler(tree).start()
        budget = args.seconds / 2 if args.trace else args.seconds
        plain = runner.measure(budget)
        peak_rss = sampler.stop()
        steal = probes.host_steal()

        step_times = plain["steps"]
        run_s = statistics.median(plain["passes"])
        tail_s, tail_pct = tail(step_times)
        e2e = {
            "setup_s": setup_s,
            "run_s": run_s,
            "query_p50_s": statistics.median(step_times),
            "rows_per_s": wl.input_rows / run_s,
        }
        # printed on every run; too unsteady for BENCHMARK.json's bounds,
        # so the JSON carries them with the per-layer metrics
        usage = {"query_tail_s": tail_s, "cpu_s": statistics.median(plain["cpus"]),
                 "peak_rss_mb": peak_rss}
        print("# pass s: " + " ".join(f"{t:.3f}" for t in plain["passes"])
              + f"; warm-up {warmup_s:.3f}")
        print("# median step s: " + ", ".join(
            f"{k}={statistics.median(v):.3f}" for k, v in plain["by_step"].items()))
        print(f"# host steal: {(steal[0] - steal0[0]) / max(steal[1] - steal0[1], 1):.1%} "
              "of all CPUs' time while measuring (other guests' load)")
        print(f"# query_tail_s is p{tail_pct:.1f} of {len(step_times)} query samples; "
              f"run_s is the median of {len(plain['passes'])} passes")

        layer: dict[str, float] = {}
        if args.trace:
            streams = any(lay == "streaming" for *_, lay in wl.wrapped)
            stream = probes.StreamProgress(spark) if streams else None
            for module, attr, lay in [(entry, "load_tables", "io"), *wl.wrapped]:
                tracer.wrap(module, attr, lay)
            tracer.enabled = True
            writes0 = dict(wl.stats) if wl.stats else {"write_files": 0, "bytes_written": 0}
            first_traced = runner.next_pass
            traced = runner.measure(budget)
            tracer.enabled = False
            tracer.unwrap()
            if stream:
                counters.snapshot()  # drain the listener bus
                stream.close()
            writes = {k: wl.stats.get(k, 0) - writes0[k] for k in writes0}
            layer = per_layer(tracer.spans, len(traced["passes"]), cores, wl, stream,
                              writes, plain["passes"], traced["passes"])
            layer.update(usage)
            layer["session.start_s"] = start_s
            layer["session.warmup_s"] = warmup_s
            spans = tracer.spans + [
                {"name": "session.start", "layer": "session", "run": "setup",
                 "parent": None, "start": t0, "end": t0 + start_s},
                {"name": "session.warmup", "layer": "session", "run": "setup",
                 "parent": None, "start": t_warm, "end": t_warm + warmup_s},
            ]
            out = os.path.join(BENCH, ".traces", f"{args.workload}-s{args.seed}.json")
            os.makedirs(os.path.dirname(out), exist_ok=True)
            with open(out, "w") as f:
                json.dump({"workload": args.workload, "seed": args.seed,
                           "pass_wall_s": {f"pass{i}": runner.pass_wall[f"pass{i}"]
                                           for i in range(first_traced, runner.next_pass)},
                           "spans": spans}, f)
            print(f"# spans: {len(spans)} written to {os.path.relpath(out, ROOT)}")

        sc = spark.sparkContext
        env = {
            "seed": args.seed, "scale": args.scale, "workload": args.workload,
            "cores": cores, "heap_mb": heap_mb, "spark": spark.version,
            "java": sc._jvm.System.getProperty("java.version"),
            "python": sys.version.split()[0],
            "load": "closed loop, 1 client, local[%d]" % cores,
        }
        print("# env " + json.dumps(env, sort_keys=True))
        for err in runner.errors[:20]:
            print(f"# FAILED {err}")
        for name, value in {**e2e, **usage, **layer}.items():
            unit = END_TO_END.get(name) or PER_LAYER[name]
            print(f"{name} {value:.6g} {unit}")
        ratio = runner.failed / runner.attempted
        print(f"failed_ratio {ratio:.6g} ratio ({runner.failed}/{runner.attempted})")
        chosen = layer if args.trace else e2e
        units = PER_LAYER if args.trace else END_TO_END
        print(json.dumps({
            "correct": runner.failed == 0,
            "attempted": runner.attempted,
            "failed": runner.failed,
            "metrics": {k: {"value": chosen[k], "unit": units[k]} for k in units},
        }))
        return 0
    finally:
        if spark is not None:
            stop(spark)
        shutil.rmtree(work, ignore_errors=True)
        parent = os.path.dirname(work)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)


def stop(spark) -> None:
    """Stop Spark and wait for the JVM (and with it the Python workers)
    to exit: the gateway JVM exits when its stdin closes."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()

if __name__ == "__main__":
    sys.exit(main())
