#!/usr/bin/env python3
"""The repository benchmark: one workload, one run, one JSON line.

Usage:
    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

One client, closed loop: operations run one at a time against
``local[<usable cores>]``. The run starts a Spark session, runs two untimed
warm-up passes over the workload's operations, then timed passes until
``--seconds`` have elapsed; the seed permutes the operation order within
each pass. Every operation's output is checked against
``perfbench/expected.json``.

The input tables are read from ``$SPARK_GRAFT_SF_DIR`` (the variable
``bench.py`` reads), else ``~/testdata/sf0.1``; they are only read.
Everything the run writes goes under ``perfbench/_work``.

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` also runs
the same number of passes under the tracer and reports the per-layer
metrics instead. The workload runs in a child process whose stderr is
scanned for Spark ERROR lines; hypervisor steal and a spin-probe reading
are recorded for every run. The last line of stdout is
``{"correct", "attempted", "failed", "metrics"}``; the full record is
written to ``perfbench/_work/records/``.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import workloads as wl  # noqa: E402

_ERROR_LINE = re.compile(r"\bERROR\b")


def deadline_s(seconds: float, trace: int) -> float:
    """How long the workload's process may run before it is stopped: an
    allowance for Spark start and the warm-up passes, plus the timed
    passes (run twice when traced) with room for a slow host."""
    return 65.0 + 1.5 * (1 + trace) * seconds


def metric_units() -> dict[str, str]:
    """Every metric's unit, as BENCHMARK.json declares it."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"]
            for m in spec["end_to_end"] + spec["per_layer"]}


class StderrScan:
    """Drains a child's stderr: counts Spark ERROR lines, keeps a tail."""

    def __init__(self, stream):
        self.errors = 0
        self.tail: list[str] = []
        self._thread = threading.Thread(target=self._drain, args=(stream,),
                                        daemon=True)
        self._thread.start()

    def _drain(self, stream) -> None:
        for raw in stream:
            line = raw.decode("utf-8", "replace").rstrip()
            if _ERROR_LINE.search(line):
                self.errors += 1
            self.tail = (self.tail + [line])[-40:]
        stream.close()

    def join(self) -> None:
        self._thread.join(timeout=10)


def session_pids(sid: int) -> list[int]:
    """Live (non-zombie) processes of session ``sid``. The child starts a
    session; PySpark's worker daemon moves into a process group of its
    own but stays in that session."""
    pids = []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        state, _ppid, _pgrp, session = stat[stat.rindex(")") + 2:].split()[:4]
        if int(session) == sid and state != "Z":
            pids.append(int(entry))
    return pids


def stop_session(sid: int, reap) -> None:
    """Stop every process left in the child's session and wait until none
    remains: a grace period first (the JVM exits by itself once its
    Python driver is gone), then SIGTERM, then SIGKILL. ``reap``
    collects the child once it has exited."""
    for sig, wait_s in ((None, 5.0), (signal.SIGTERM, 10.0),
                        (signal.SIGKILL, 10.0)):
        if sig is not None:
            for pid in session_pids(sid):
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
        deadline = time.monotonic() + wait_s
        while time.monotonic() < deadline:
            reap()
            if not session_pids(sid):
                return
            time.sleep(0.05)


def main() -> int:
    t0 = time.time()
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[1])
    ap.add_argument("--workload", required=True, choices=sorted(wl.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "knime_core_columnar_spark")):
        print("perfbench: the knime_core_columnar_spark package is not "
              f"beside {HERE}", file=sys.stderr)
        return 2
    data_dir = (os.environ.get("SPARK_GRAFT_SF_DIR")
                or os.path.expanduser("~/testdata/sf0.1"))
    missing = [t for t in ("orders", "lineitem", "documents")
               if not os.path.isfile(os.path.join(data_dir, f"{t}.parquet"))]
    if missing:
        print(f"perfbench: no input tables {missing} in {data_dir}",
              file=sys.stderr)
        return 2

    units = metric_units()
    sys.path.insert(0, ROOT)
    import bench

    tag = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    work = os.path.join(HERE, "_work", tag)
    records_dir = os.path.join(HERE, "_work", "records")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(records_dir, exist_ok=True)
    out = os.path.join(work, "record.json")
    env = dict(os.environ)
    env.update({
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        # spark-submit's launcher JVM; the driver JVM gets the same flags
        # through spark.driver.extraJavaOptions (worker.py)
        "SPARK_LAUNCHER_OPTS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "PYTHONPATH": os.pathsep.join(
            [ROOT] + [p for p in [env.get("PYTHONPATH")] if p]),
    })
    cmd = [sys.executable, os.path.join(HERE, "worker.py"),
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--data", data_dir, "--work", work, "--out", out,
           "--t0", repr(t0)]

    steal_before = bench._read_steal_sec()
    child = subprocess.Popen(cmd, cwd=work, env=env, stdin=subprocess.DEVNULL,
                             stdout=subprocess.DEVNULL, stderr=subprocess.PIPE,
                             start_new_session=True)
    scan = StderrScan(child.stderr)
    try:
        code = child.wait(timeout=deadline_s(args.seconds, args.trace))
    except subprocess.TimeoutExpired:
        code = None
    finally:
        stop_session(child.pid, child.poll)
        child.wait()
        scan.join()
    steal_after = bench._read_steal_sec()
    spin_s = bench._spin_sec()

    if code != 0 or not os.path.exists(out):
        print("\n".join(scan.tail), file=sys.stderr)
        print(f"perfbench: workload run failed (exit {code})", file=sys.stderr)
        shutil.rmtree(work, ignore_errors=True)
        return 1
    with open(out) as f:
        record = json.load(f)
    shutil.rmtree(work, ignore_errors=True)

    record["diagnostics"] = {
        "steal_s": (None if steal_before is None or steal_after is None
                    else steal_after - steal_before),
        "spin_s": spin_s,
        "spin_iters": bench._SPIN_ITERS,
        "wall_s": time.time() - t0,
    }
    record["process"]["spark_error_lines"] = scan.errors
    if args.trace:
        values = dict(record["layers"])
        for key, value in record["process"].items():
            values[f"process.{key}"] = value if value is not None else 0.0
    else:
        values = record["end_to_end"]
    metrics = {k: {"value": v, "unit": units[k]}
               for k, v in sorted(values.items())}
    with open(os.path.join(records_dir, f"{tag}.json"), "w") as f:
        json.dump(record, f)

    for failure in record["failures"]:
        print(f"FAILED {failure['op']}: {failure['error']}")
    tail = record["latency_tail"]
    print(f"workload {args.workload}: {record['attempted']} ops in "
          f"{record['passes']} timed pass(es) on {record['master']}, "
          f"failed_frac {record['failed_frac']:.4f}, latency_tail_s is "
          f"p{tail['percentile'] * 100:g} of n={tail['n']} "
          f"({tail['beyond']} beyond)")
    for key, value in sorted(record.get("store", {}).items()):
        print(f"  {key} = {value:.6g} {units[key]}")
    for key, m in metrics.items():
        print(f"  {key} = {m['value']:.6g} {m['unit']}")
    print(json.dumps({"correct": record["failed"] == 0,
                      "attempted": record["attempted"],
                      "failed": record["failed"], "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
