#!/usr/bin/env python3
"""Self-test of the benchmark on tiny inputs (sf0.001 tables, a 41×106 grid).

    python3 perfbench/selftest.py [workload ...]

For each workload it makes a plain run, a traced run and a run checked
against a deliberately wrong answer, and asserts that every end-to-end
and per-layer metric is printed with its unit, that the plain run's
outputs check, and that the wrong answer raises ``failed_frac``. Exits 1
on the first failed assertion.
"""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

BENCH = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
# each workload's own names for its end-to-end figures, with their units
NAMED = {
    "registry": {"query_p50_s": "s", "queries_per_s": "1/s", "peak_rss_mb": "MB"},
    "weather": {"ingest_p50_s": "s", "ingest_cells_per_s": "cells/s", "xql_p50_s": "s", "xql_per_s": "1/s",
                "peak_rss_mb": "MB"},
}


def bench(workload: str, trace: int, *extra: str) -> tuple[dict, list[str]]:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", "7",
           "--seconds", "2", "--trace", str(trace), "--size", "tiny", *extra]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    if proc.returncode != 0:
        sys.stderr.write(proc.stderr[-4000:])
        raise AssertionError(f"{cmd} exited {proc.returncode}")
    lines = proc.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}, result
    assert isinstance(result["attempted"], int) and result["attempted"] >= 1, result
    return result, lines[:-1]


def printed(lines: list[str]) -> dict[str, tuple[float, str]]:
    """``#   name = value unit`` lines of the human-readable report."""
    out = {}
    for line in lines:
        m = re.match(r"#\s+(\S+) = (\S+) (\S+)", line)
        if m:
            out[m.group(1)] = (float(m.group(2)), m.group(3))
    return out


def check_workload(workload: str) -> None:
    e2e = {m["name"]: m["unit"] for m in BENCH["end_to_end"]}
    layer = {m["name"]: m["unit"] for m in BENCH["per_layer"]}

    result, lines = bench(workload, 0)
    assert result["correct"] and result["failed"] == 0, result
    assert {k: v["unit"] for k, v in result["metrics"].items()} == e2e, result["metrics"]
    assert all(v["value"] > 0 for v in result["metrics"].values()), result["metrics"]
    named = printed(lines)
    for name, unit in {**e2e, **NAMED[workload], "ops_per_s": "1/s", "failed_frac": "ratio"}.items():
        assert named[name][1] == unit and named[name][0] >= 0, (name, named)
    assert named["failed_frac"][0] == 0.0, named

    result, lines = bench(workload, 1)
    assert result["correct"], result
    assert {k: v["unit"] for k, v in result["metrics"].items()} == layer, sorted(result["metrics"])
    assert any(line.startswith("# tracing overhead") for line in lines), lines

    result, lines = bench(workload, 0, "--wrong-answer")
    assert not result["correct"] and result["failed"] >= 1, result
    assert printed(lines)["failed_frac"][0] > 0, lines
    print(f"selftest {workload}: ok", flush=True)


def main(argv: list[str]) -> int:
    from workloads import WORKLOADS

    for workload in argv or sorted(WORKLOADS):
        try:
            check_workload(workload)
        except AssertionError as exc:
            print(f"selftest {workload}: FAILED {exc}", file=sys.stderr)
            return 1
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
