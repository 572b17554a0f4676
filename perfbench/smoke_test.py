"""Smoke test of the benchmark at a tiny seeded scale.

    python3 perfbench/smoke_test.py

Checks that every end-to-end and per-layer metric is printed with its
unit, that the traced runs emit spans for every layer, that no span has
a negative self time and that the self times of each traced pass sum to
no more than that pass's wall time.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

sys.dont_write_bytecode = True
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench.probes import span_self  # noqa: E402
from perfbench.run import END_TO_END, PER_LAYER  # noqa: E402
from perfbench.workloads import WORKLOADS  # noqa: E402

LAYERS = {"session", "io", "frame", "plans", "operators", "functions", "streaming"}
SEED = 7
PRINTED_E2E = {**END_TO_END, "query_tail_s": "s", "cpu_s": "s",
               "peak_rss_mb": "MiB", "failed_ratio": "ratio"}


def bench(workload: str, trace: int) -> tuple[dict, dict]:
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(SEED), "--seconds", "2", "--trace", str(trace),
           "--scale", "tiny"]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert p.returncode == 0, p.stderr[-3000:]
    lines = [ln for ln in p.stdout.splitlines() if ln.strip()]
    result = json.loads(lines[-1])
    printed = {}
    for ln in lines[:-1]:
        parts = ln.split()
        if len(parts) >= 3 and not ln.startswith("#"):
            printed[parts[0]] = (float(parts[1]), parts[2])
    return result, printed


def check_self_times(workload: str, trace: dict) -> None:
    spans = trace["spans"]
    own = span_self(spans)
    assert min(own) >= -1e-9, (workload, "negative self time", min(own))
    per_pass: dict[str, float] = {}
    for s, t in zip(spans, own):
        if s["run"] != "setup":
            per_pass[s["run"]] = per_pass.get(s["run"], 0.0) + t
    assert set(per_pass) == set(trace["pass_wall_s"]), (workload, sorted(per_pass))
    for run, total in per_pass.items():
        wall = trace["pass_wall_s"][run]
        assert total <= wall, (workload, run, total, wall)
    print(f"ok {workload}: {len(spans)} spans over {len(per_pass)} passes, "
          f"self {sum(per_pass.values()):.2f} s <= wall "
          f"{sum(trace['pass_wall_s'].values()):.2f} s")


def main() -> int:
    result, printed = bench("frame_tpch", 0)
    assert result["correct"] and result["failed"] == 0, result
    for name, unit in PRINTED_E2E.items():
        assert printed.get(name, (0, None))[1] == unit, f"{name} not printed with unit {unit}"
    assert set(result["metrics"]) == set(END_TO_END)
    assert printed["query_tail_s"][0] >= printed["query_p50_s"][0], printed

    seen_layers: set[str] = set()
    for workload in WORKLOADS:
        result, printed = bench(workload, 1)
        assert result["correct"], (workload, result)
        for name, unit in PER_LAYER.items():
            assert printed.get(name, (0, None))[1] == unit, f"{workload}: {name} missing"
        assert set(result["metrics"]) == set(PER_LAYER)
        with open(os.path.join(ROOT, "perfbench", ".traces",
                               f"{workload}-s{SEED}.json")) as f:
            trace = json.load(f)
        seen_layers |= {s["layer"] for s in trace["spans"]}
        check_self_times(workload, trace)
    assert LAYERS <= seen_layers, f"no spans for {LAYERS - seen_layers}"
    print("smoke test passed")
    return 0


if __name__ == "__main__":
    sys.exit(main())
