"""One benchmark run of one workload, in its own process.

``run.py`` starts this file as a child process so that it can read the
child's stderr (Spark's log) and stop everything the run started. The
child starts a Spark session, runs untimed warm-up passes, then timed
passes until ``--seconds`` have elapsed, checks every operation's output
against ``expected.json``, and writes its record as JSON to ``--out``.
With ``--trace 1`` it then runs as many passes again under the tracer
and adds the per-layer metrics.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import random
import statistics
import sys
import time
from collections import Counter

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import workloads as wl  # noqa: E402

#: untimed passes before timing. Measured at sf0.1 on four cores, pass
#: times still fall 10-25% over the next three passes; the timed passes
#: outnumber those, so the per-operation medians below sit past them.
#: The run time a third warm-up pass would take goes to timed passes
#: instead (README.md, Sizing).
WARMUP_PASSES = 2
#: the tail percentile. It is fixed, not chosen by sample count: a run on
#: a faster host completes more operations, and a percentile that rose
#: with the count would move with the host, not the program.
TAIL_QUANTILE = 0.9


def latency_tail(latencies: list[float]) -> dict:
    """The TAIL_QUANTILE percentile (nearest rank), with the sample count
    and how many samples lie beyond it."""
    ordered = sorted(latencies)
    n = len(ordered)
    rank = max(1, math.ceil(TAIL_QUANTILE * n))
    return {"percentile": TAIL_QUANTILE, "value": ordered[rank - 1], "n": n,
            "beyond": n - rank}


def op_medians(records: list[dict]) -> list[float]:
    """Each operation's median latency over ``records``. A host stall
    during a few passes moves a run's elapsed time, not these medians."""
    by_op: dict[str, list[float]] = {}
    for rec in records:
        by_op.setdefault(rec["op"], []).append(rec["latency_s"])
    return [statistics.median(v) for v in by_op.values()]


def ops_per_s(records: list[dict]) -> float:
    """Operations that passed their check per second, over a pass in which
    each operation takes its median latency."""
    medians = op_medians(records)
    ok = sum(1 for rec in records if rec["error"] is None)
    return ok / len(records) * len(medians) / sum(medians)


def peak_rss_mb(pid: int | str) -> float | None:
    """VmHWM (peak resident set) of a process, in MiB."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
    except OSError:
        pass
    return None


class Runner:
    """Runs operations of one workload and checks their outputs."""

    def __init__(self, spark, data_dir: str, work_dir: str, expected: dict):
        from knime_core_columnar_spark import catalog

        self.spark = spark
        self.catalog = catalog
        self.data_dir = data_dir
        self.work_dir = work_dir
        self.unstable = set(expected.get("unstable", []))
        self.expected = expected.get(os.path.basename(data_dir.rstrip("/")))
        self.schemas: dict[str, object] = {}
        self.paths: dict[tuple[str, str], str] = {}
        self.stored: dict[tuple[str, str], tuple[int, int]] = {}
        self.index = 0

    def run(self, name: str, tracer=None) -> dict:
        """Run one operation; returns its record. An exception or a
        wrong output marks the operation failed; the run goes on."""
        self.index += 1
        t0 = time.perf_counter()
        frame = None
        try:
            if tracer is not None:
                tracer.begin_op(self.index, name)
            if ":" in name:
                error, frame = self._store_op(name, tracer)
            else:
                error, frame = self._query_op(name, tracer)
        except Exception as e:  # a failing operation stays in the run
            error = f"{type(e).__name__}: {str(e).strip()[:400]}"
        latency = time.perf_counter() - t0
        record = {"op": name, "latency_s": latency, "error": error}
        if tracer is not None:
            record["trace"] = tracer.end_op(frame)
        self._cleanup(name)
        return record

    def _check(self, kind: str, name: str, row) -> str | None:
        if self.expected is None:
            return "no expected outputs for this data directory"
        want = self.expected[kind].get(name)
        if want is None:
            return "no expected output"
        if row["rows"] != want["rows"]:
            return f"rows {row['rows']} != expected {want['rows']}"
        if name not in self.unstable and row["checksum"] != want["checksum"]:
            return f"checksum {row['checksum']} != expected {want['checksum']}"
        return None

    def _query_op(self, name: str, tracer):
        fn = self.catalog.QUERIES[name]
        if tracer is None:
            frame = wl.checksum_frame(fn(self.spark, self.data_dir))
            return self._check("queries", name, frame.collect()[0]), None
        with tracer.phase("construct"):
            df = fn(self.spark, self.data_dir)
        with tracer.phase("plan"):
            frame = wl.checksum_frame(df)
            frame._jdf.queryExecution().executedPlan()
        with tracer.phase("exec"):
            row = frame.collect()[0]
        return self._check("queries", name, row), frame

    def _store_op(self, name: str, tracer):
        kind, table, fmt = name.split(":")
        if table not in self.schemas:
            raise RuntimeError(f"store table {table} was not prepared")
        if tracer is None:
            return self._store_step(kind, table, fmt)
        with tracer.phase("exec"):
            return self._store_step(kind, table, fmt)

    def _store_step(self, kind: str, table: str, fmt: str):
        """A write, or a read and its check; returns (error, the read's
        checksum frame or None)."""
        if kind == "write":
            path = wl.store_write(self.spark, self.data_dir, self.work_dir,
                                  table, fmt)
            self.paths[(table, fmt)] = path
            size, files = wl.path_stats(path)
            self.stored[(table, fmt)] = (size, files)
            return (None if size > 0 else "nothing written"), None
        path = self.paths.pop((table, fmt))
        df = wl.store_read(self.spark, path, fmt)
        frame = wl.checksum_frame(wl.as_source_types(df, self.schemas[table]))
        return self._check("tables", table, frame.collect()[0]), frame

    def prepare_store(self) -> None:
        """Resolve the source tables' schemas once, before any timing."""
        for table in wl.STORE_TABLES:
            self.schemas[table] = wl.source_table(
                self.spark, self.data_dir, table).df.schema

    def _cleanup(self, name: str) -> None:
        if name.startswith("read:"):
            _kind, table, fmt = name.split(":")
            wl.remove_path(wl.store_path(self.work_dir, table, fmt))


def run_passes(runner: Runner, workload: str, rng: random.Random,
               passes: int | None, seconds: float, tracer=None):
    """Whole passes: ``passes`` of them, or as many as it takes for
    ``seconds`` to elapse (at least one). Returns (records, passes,
    elapsed seconds)."""
    records = []
    done = 0
    t0 = time.perf_counter()
    while True:
        for name in wl.pass_order(workload, rng):
            records.append(runner.run(name, tracer))
        done += 1
        elapsed = time.perf_counter() - t0
        if passes is not None and done >= passes:
            break
        if passes is None and elapsed >= seconds:
            break
    return records, done, elapsed


def layer_metrics(records: list[dict], passes: int, cores: int) -> dict:
    """Per-layer metrics from traced operation records, per pass."""
    totals = Counter()
    store = Counter()
    for rec in records:
        times = rec["trace"]["times"]
        totals.update(rec["trace"]["counts"])
        totals["construct_s"] += times.get("op.construct", 0.0)
        totals["plan_s"] += times.get("op.plan", 0.0)
        totals["exec_s"] += times.get("op.exec", 0.0)
        totals["resolve_s"] += sum(v for k, v in times.items()
                                   if k.startswith("sources.resolve."))
        if ":" in rec["op"]:
            kind, _table, fmt = rec["op"].split(":")
            store[f"sources.{kind}_s.{fmt}"] += rec["latency_s"]
    op_s = totals["construct_s"] + totals["plan_s"] + totals["exec_s"]
    m = {
        "catalog.construct_s": totals["construct_s"],
        "catalog.construct_jobs": totals["jobs.c"] + totals["jobs.cr"],
        "catalog.py4j_calls": totals["py4j_calls.construct"],
        "catalog.materializations": totals["materializations"],
        "sources.resolve_calls": totals["resolve_calls"],
        "sources.resolve_s": totals["resolve_s"],
        "sources.resolve_jobs": (totals["jobs.cr"] + totals["jobs.pr"]
                                 + totals["jobs.xr"]),
        "planner.plan_s": totals["plan_s"],
        "operators.exec_s": totals["exec_s"],
        "operators.exec_jobs": totals["jobs.x"],
    }
    for key in ("stages", "tasks", "task_run_s", "task_cpu_s", "gc_s",
                "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
                "input_bytes", "failed_tasks", "exchanges"):
        m[f"operators.{key}"] = totals[key]
    for key in ("data_sent_bytes", "data_received_bytes", "rows_received",
                "boot_s", "init_s", "total_s"):
        m[f"python.{key}"] = totals[f"python.{key}"]
    for kind in ("write", "read"):
        for fmt in wl.STORE_FORMATS:
            m[f"sources.{kind}_s.{fmt}"] = store[f"sources.{kind}_s.{fmt}"]
    m = {k: v / passes for k, v in m.items()}
    m["catalog.construct_share"] = totals["construct_s"] / op_s
    m["operators.slot_utilization"] = (totals["task_run_s"]
                                       / (totals["exec_s"] * cores))
    return m


def store_metrics(runner: Runner, records: list[dict], data_dir: str) -> dict:
    """store_roundtrip's own metrics: write and read medians, and bytes
    and files on disk per format, with bytes also per byte of the source
    tables' Arrow in-memory size. All 0 on a workload that stores
    nothing."""
    import pyarrow.parquet as pq

    writes = [r["latency_s"] for r in records if r["op"].startswith("write:")]
    reads = [r["latency_s"] for r in records if r["op"].startswith("read:")]
    stored = sum(size for size, _files in runner.stored.values())
    m = {"sources.write_p50_s": statistics.median(writes) if writes else 0.0,
         "sources.read_p50_s": statistics.median(reads) if reads else 0.0,
         "sources.stored_bytes_per_input_byte": 0.0}
    if stored:
        input_bytes = sum(
            pq.read_table(os.path.join(data_dir, f"{t}.parquet")).nbytes
            for t in wl.STORE_TABLES)
        m["sources.stored_bytes_per_input_byte"] = stored / (
            input_bytes * len(wl.STORE_FORMATS))
    for fmt in wl.STORE_FORMATS:
        on_disk = [v for (_t, f), v in runner.stored.items() if f == fmt]
        m[f"sources.bytes_written.{fmt}"] = sum(s for s, _n in on_disk)
        m[f"sources.files_written.{fmt}"] = sum(n for _s, n in on_disk)
    return m


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(wl.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--data", required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--t0", type=float, required=True,
                    help="wall-clock start of the run, for setup_s")
    args = ap.parse_args()

    from knime_core_columnar_spark.session import get_spark

    tmp = os.path.join(args.work, "tmp")
    spark = get_spark(app_name="perfbench", extra_conf={
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.sql.warehouse.dir": os.path.join(args.work, "warehouse"),
    })
    cores = spark.sparkContext.defaultParallelism
    start_s = time.time() - args.t0
    with open(os.path.join(HERE, "expected.json")) as f:
        expected = json.load(f)
    runner = Runner(spark, args.data, os.path.join(args.work, "store"),
                    expected)
    os.makedirs(runner.work_dir, exist_ok=True)
    rng = random.Random(args.seed)
    if args.workload == "store_roundtrip":
        runner.prepare_store()

    warm, _, warm_s = run_passes(runner, args.workload, rng, WARMUP_PASSES, 0)
    setup_s = time.time() - args.t0
    timed, passes, elapsed = run_passes(runner, args.workload, rng, None,
                                        args.seconds)
    latencies = [r["latency_s"] for r in timed]
    ok = [r for r in timed if r["error"] is None]
    tail = latency_tail(latencies)
    end_to_end = {
        "setup_s": setup_s,
        "ops_per_s": ops_per_s(timed),
        "latency_p50_s": statistics.median(op_medians(timed)),
        "latency_tail_s": tail["value"],
    }
    record = {
        "workload": args.workload, "seed": args.seed, "data": args.data,
        "master": spark.sparkContext.master, "passes": passes,
        "timed_s": elapsed, "attempted": len(timed),
        "failed": len(timed) - len(ok),
        "failed_frac": (len(timed) - len(ok)) / len(timed),
        "failures": [{"op": r["op"], "error": r["error"]}
                     for r in warm + timed if r["error"] is not None],
        "latency_tail": tail, "end_to_end": end_to_end,
        "ops": [{"op": r["op"], "latency_s": r["latency_s"]} for r in timed],
        "warmup_ops": [{"op": r["op"], "latency_s": r["latency_s"]}
                       for r in warm],
        "session": {"start_s": start_s, "warmup_pass_s": warm_s},
    }
    if args.workload == "store_roundtrip":
        record["store"] = store_metrics(runner, timed, args.data)

    if args.trace:
        from tracing import Tracer

        tracer = Tracer(spark)
        tracer.install()
        try:
            traced, _, _ = run_passes(runner, args.workload, rng, passes,
                                      0, tracer)
        finally:
            tracer.uninstall()
        layers = {"session.start_s": start_s,
                  "session.warmup_pass_s": warm_s}
        layers.update(layer_metrics(traced, passes, cores))
        layers.update(store_metrics(runner, timed, args.data))
        traced_ops_per_s = ops_per_s(traced)
        layers["trace.overhead"] = (end_to_end["ops_per_s"] / traced_ops_per_s
                                    if traced_ops_per_s else 0.0)
        record["layers"] = layers
        record["traced_failures"] = [
            {"op": r["op"], "error": r["error"]}
            for r in traced if r["error"] is not None]
        record["spans"] = tracer.spans

    gateway = getattr(spark.sparkContext._gateway, "proc", None)
    record["process"] = {
        "jvm_peak_rss_mb": peak_rss_mb(gateway.pid) if gateway else None,
        "driver_peak_rss_mb": peak_rss_mb("self"),
    }
    spark.stop()
    with open(args.out, "w") as f:
        json.dump(record, f)
    return 0


if __name__ == "__main__":
    sys.exit(main())
