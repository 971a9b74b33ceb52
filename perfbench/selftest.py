#!/usr/bin/env python3
"""Self-test of the benchmark: every workload for one pass on a small
data directory, through the same command the benchmark runs.

Usage: python3 perfbench/selftest.py

The data directory is the ``sf0.001`` one beside the benchmark's input
directory. Asserts that the last line of each run carries
every end-to-end metric of BENCHMARK.json with its unit, that no
operation failed, and that a traced run carries every per-layer metric.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import workloads as wl  # noqa: E402


def run(workload: str, trace: int, data_dir: str) -> dict:
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "1", "--seconds", "0", "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=300, check=True,
        env={**os.environ, "SPARK_GRAFT_SF_DIR": data_dir})
    return json.loads(out.stdout.strip().splitlines()[-1])


def main() -> int:
    default = os.environ.get("SPARK_GRAFT_SF_DIR") or os.path.expanduser(
        "~/testdata/sf0.1")
    data_dir = os.path.join(os.path.dirname(default.rstrip("/")), "sf0.001")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {w["name"] for w in spec["workloads"]} <= set(wl.WORKLOADS)
    for workload in wl.WORKLOADS:
        result = run(workload, 0, data_dir)
        assert result["failed"] == 0 and result["correct"], result
        for m in spec["end_to_end"]:
            got = result["metrics"][m["name"]]
            assert got["unit"] == m["unit"], (m, got)
            assert got["value"] > 0, (workload, m, got)
        print(f"ok {workload}: failed_frac 0, "
              f"{len(result['metrics'])} end-to-end metrics")
    result = run("store_roundtrip", 1, data_dir)
    assert result["failed"] == 0, result
    for m in spec["per_layer"]:
        assert m["name"] in result["metrics"], m
    print(f"ok traced store_roundtrip: {len(result['metrics'])} "
          "per-layer metrics")
    return 0


if __name__ == "__main__":
    sys.exit(main())
