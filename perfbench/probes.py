"""Measurement from outside the package: /proc process-tree CPU and
memory, Spark's own counters, and an in-memory span tracer.

Nothing here edits ``datamancer_spark``; layer boundaries that sit inside
borrowed query functions are traced by wrapping the package's public
functions for the duration of a traced run (``Tracer.wrap``).
"""

from __future__ import annotations

import contextlib
import functools
import os
import threading
import time

_CLK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # comm may contain spaces: split after the closing parenthesis
    head, tail = raw.rsplit(")", 1)
    return [head.split("(", 1)[1]] + tail.split()


def host_steal() -> tuple[int, int]:
    """(steal, total) CPU ticks of the whole machine from /proc/stat: time
    a virtual machine's CPUs waited for the host."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return ticks[7], sum(ticks[:8])


class ProcTree:
    """CPU seconds and resident memory of this process and every
    descendant (the JVM and its Python workers)."""

    def __init__(self) -> None:
        self.root = os.getpid()

    def _tree(self) -> dict[int, list[str]]:
        stats = {}
        for name in os.listdir("/proc"):
            if name.isdigit():
                st = _stat(int(name))
                if st is not None:
                    stats[int(name)] = st
        children: dict[int, list[int]] = {}
        for pid, st in stats.items():
            children.setdefault(int(st[2]), []).append(pid)
        out, todo = {}, [self.root]
        while todo:
            pid = todo.pop()
            if pid in stats:
                out[pid] = stats[pid]
                todo.extend(children.get(pid, ()))
        return out

    def cpu(self) -> dict[str, float]:
        """CPU seconds by process kind: 'jvm', 'python_workers', 'driver'.
        Exited children count through their parent's cutime/cstime."""
        acc = {"jvm": 0.0, "python_workers": 0.0, "driver": 0.0}
        for pid, st in self._tree().items():
            # fields after comm: state=1 ... utime=12 stime=13 cutime=14 cstime=15
            own = (int(st[12]) + int(st[13])) / _CLK
            reaped = (int(st[14]) + int(st[15])) / _CLK
            if pid == self.root:
                acc["driver"] += own
            elif st[0] == "java":
                acc["jvm"] += own
            else:
                acc["python_workers"] += own + reaped
        return acc

    def pids(self) -> list[int]:
        return list(self._tree())

    def rss_mb(self, pids: list[int]) -> float:
        total = 0
        for pid in pids:
            try:
                with open(f"/proc/{pid}/statm") as f:
                    total += int(f.read().split()[1])
            except OSError:
                pass
        return total * _PAGE / (1024 * 1024)


class RssSampler:
    """Background peak-RSS sampler over the process tree. The tree is
    re-listed every ``relist`` samples; in between only the known
    processes' statm files are read, to keep the sampler's own CPU low."""

    def __init__(self, tree: ProcTree, every_s: float = 0.2, relist: int = 5) -> None:
        self.tree, self.every, self.relist = tree, every_s, relist
        self.peak = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        k, pids = 0, []
        while not self._stop.is_set():
            if k % self.relist == 0:
                pids = self.tree.pids()
            k += 1
            self.peak = max(self.peak, self.tree.rss_mb(pids))
            self._stop.wait(self.every)

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def stop(self) -> float:
        self._stop.set()
        self._thread.join()
        return self.peak


class SparkCounters:
    """Spark's own counters, read through py4j: the job count from the
    DAG scheduler and the executor summaries of the status store (task
    count and time, GC time, input and shuffle bytes, failed tasks).
    Both are kept with the UI off."""

    FIELDS = ("tasks", "failed_tasks", "task_ms", "gc_ms", "input_bytes",
              "shuffle_write_bytes", "shuffle_read_bytes")

    def __init__(self, spark) -> None:
        sc = spark.sparkContext._jsc.sc()
        self._bus = sc.listenerBus()
        self._dag = sc.dagScheduler()
        self._store = sc.statusStore()

    def jobs(self) -> int:
        return int(self._dag.numTotalJobs())

    def snapshot(self) -> dict[str, int]:
        # the status store is fed by the listener bus: drain it first
        self._bus.waitUntilEmpty()
        snap = dict.fromkeys(self.FIELDS, 0)
        snap["jobs"] = self.jobs()
        execs = self._store.executorList(True)
        for i in range(execs.size()):
            e = execs.apply(i)
            snap["tasks"] += e.totalTasks()
            snap["failed_tasks"] += e.failedTasks()
            snap["task_ms"] += e.totalDuration()
            snap["gc_ms"] += e.totalGCTime()
            snap["input_bytes"] += e.totalInputBytes()
            snap["shuffle_write_bytes"] += e.totalShuffleWrite()
            snap["shuffle_read_bytes"] += e.totalShuffleRead()
        return snap


def delta(after: dict, before: dict) -> dict:
    return {k: after[k] - before[k] for k in after}


class Tracer:
    """Spans kept in memory: name, layer, start, end, parent, run id and
    counter deltas. A disabled tracer records nothing and costs one
    attribute check per call."""

    def __init__(self, counters: SparkCounters | None, tree: ProcTree) -> None:
        self.counters, self.tree = counters, tree
        self.enabled = False
        self.run_id = ""
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._patches: list[tuple[object, str, object]] = []

    @contextlib.contextmanager
    def span(self, name: str, layer: str, full: bool = False):
        """``full`` snapshots executor counters and process CPU around
        the span (exec spans); otherwise only the job count is taken."""
        if not self.enabled:
            yield None
            return
        rec = {"name": name, "layer": layer, "run": self.run_id,
               "parent": self._stack[-1] if self._stack else None}
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        c0 = self.counters.snapshot() if full else {"jobs": self.counters.jobs()}
        p0 = self.tree.cpu() if full else None
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            c1 = self.counters.snapshot() if full else {"jobs": self.counters.jobs()}
            rec["counters"] = delta(c1, c0)
            if full:
                rec["cpu"] = delta(self.tree.cpu(), p0)
            self._stack.pop()

    def wrap(self, module, attr: str, layer: str) -> None:
        """Replace ``module.attr`` by a spanned twin until ``unwrap``."""
        fn = getattr(module, attr)

        @functools.wraps(fn)
        def spanned(*a, **kw):
            with self.span(f"{layer}.{attr}", layer):
                return fn(*a, **kw)

        self._patches.append((module, attr, fn))
        setattr(module, attr, spanned)

    def unwrap(self) -> None:
        for module, attr, fn in reversed(self._patches):
            setattr(module, attr, fn)
        self._patches.clear()


def span_self(spans: list[dict]) -> list[float]:
    """Each span's duration minus its direct children's durations
    (children never overlap: one thread)."""
    own = [s["end"] - s["start"] for s in spans]
    for s in spans:
        if s["parent"] is not None:
            own[s["parent"]] -= s["end"] - s["start"]
    return own


def self_times(spans: list[dict]) -> dict[str, float]:
    """Per-layer self time: the sum of its spans' self times."""
    out: dict[str, float] = {}
    for s, own in zip(spans, span_self(spans)):
        out[s["layer"]] = out.get(s["layer"], 0.0) + own
    return out


class StreamProgress:
    """Collects micro-batch progress through a StreamingQueryListener;
    registered only for traced runs."""

    def __init__(self, spark) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        self.batches = 0
        self.add_batch_ms = 0
        self.commit_ms = 0
        outer = self

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                d = event.progress.durationMs
                outer.batches += 1
                outer.add_batch_ms += d.get("addBatch", 0)
                outer.commit_ms += d.get("walCommit", 0) + d.get("commitOffsets", 0)

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self.spark = spark
        self.listener = _Listener()
        spark.streams.addListener(self.listener)

    def close(self) -> None:
        self.spark.streams.removeListener(self.listener)
