"""Per-layer tracing from outside the program.

The tracer patches, for the duration of a traced pass, the boundaries the
benchmark's operations cross: py4j's ``send_command`` (driver <-> JVM
round trips), ``DataFrameReader`` (table resolution), the DataFrame
materialization methods and the ``sources`` read/write functions. Each
phase of an operation runs under its own Spark job group, so the jobs it
fires can be read back from the status store. After the action, the
executed plan's SQL metrics are read over py4j. Spans stay in memory and
are written when the run ends.
"""

from __future__ import annotations

import functools
import time
from collections import Counter
from contextlib import contextmanager

_READER_METHODS = ("parquet", "load", "csv", "json", "orc", "text", "table")
_MATERIALIZE_METHODS = ("localCheckpoint", "checkpoint", "persist", "cache")
_SOURCE_FUNCTIONS = (
    ("knime_core_columnar_spark.sources.knime_arrow", "write_knime_arrow"),
    ("knime_core_columnar_spark.sources.knime_arrow", "read_knime_arrow"),
    ("knime_core_columnar_spark.sources.io", "write_arrow_ipc"),
    ("knime_core_columnar_spark.sources.io", "read_arrow_ipc"),
)
#: operation phase -> job-group suffix; table resolution inside a phase
#: runs under the phase's suffix followed by "r"
_PHASE_GROUPS = {"construct": "c", "plan": "p", "exec": "x"}
_PYTHON_METRICS = {
    "pythonDataSent": "python.data_sent_bytes",
    "pythonDataReceived": "python.data_received_bytes",
    "pythonNumRowsReceived": "python.rows_received",
    "pythonBootTime": "python.boot_s",
    "pythonInitTime": "python.init_s",
    "pythonTotalTime": "python.total_s",
}


class Tracer:
    """Spans and counters for one traced run. ``install`` patches the
    boundaries; ``uninstall`` restores them."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self.op: dict | None = None
        self._phase: str | None = None
        self._quiet = 0
        self._depth = Counter()
        self._patches: list[tuple[object, str, object]] = []

    # -- patching ---------------------------------------------------------

    def install(self) -> None:
        import importlib

        import py4j.clientserver
        import py4j.java_gateway
        from pyspark.sql.classic.dataframe import DataFrame
        from pyspark.sql.readwriter import DataFrameReader

        for cls in (py4j.clientserver.ClientServerConnection,
                    py4j.java_gateway.GatewayConnection):
            self._patch(cls, "send_command", self._count_py4j)
        for name in _READER_METHODS:
            self._patch(DataFrameReader, name, self._resolve)
        for name in _MATERIALIZE_METHODS:
            self._patch(DataFrame, name, self._materialize)
        for module, name in _SOURCE_FUNCTIONS:
            self._patch(importlib.import_module(module), name,
                        self._source_call)

    def uninstall(self) -> None:
        for owner, name, orig in reversed(self._patches):
            setattr(owner, name, orig)
        self._patches.clear()

    def _patch(self, owner, name: str, wrap) -> None:
        orig = getattr(owner, name)
        self._patches.append((owner, name, orig))
        setattr(owner, name, functools.wraps(orig)(wrap(orig, name)))

    def _count_py4j(self, orig, _name):
        tracer = self

        def send_command(conn, *args, **kwargs):
            if tracer.op is not None and not tracer._quiet and tracer._phase:
                tracer.op["counts"][f"py4j_calls.{tracer._phase}"] += 1
            return orig(conn, *args, **kwargs)
        return send_command

    def _resolve(self, orig, name):
        tracer = self

        def resolve(reader, *args, **kwargs):
            if tracer.op is None or tracer._depth["resolve"]:
                return orig(reader, *args, **kwargs)
            tracer._depth["resolve"] += 1
            prev = tracer._set_group(_PHASE_GROUPS[tracer._phase] + "r")
            t0 = time.perf_counter()
            try:
                return orig(reader, *args, **kwargs)
            finally:
                tracer._span(f"sources.resolve.{name}", t0)
                tracer.op["counts"]["resolve_calls"] += 1
                tracer._restore_group(prev)
                tracer._depth["resolve"] -= 1
        return resolve

    def _materialize(self, orig, name):
        tracer = self

        def materialize(df, *args, **kwargs):
            if tracer.op is None or tracer._depth["materialize"]:
                return orig(df, *args, **kwargs)
            tracer._depth["materialize"] += 1
            t0 = time.perf_counter()
            try:
                return orig(df, *args, **kwargs)
            finally:
                tracer._span(f"catalog.materialize.{name}", t0)
                tracer.op["counts"]["materializations"] += 1
                tracer._depth["materialize"] -= 1
        return materialize

    def _source_call(self, orig, name):
        tracer = self

        def source_call(*args, **kwargs):
            if tracer.op is None:
                return orig(*args, **kwargs)
            t0 = time.perf_counter()
            try:
                return orig(*args, **kwargs)
            finally:
                tracer._span(f"sources.{name}", t0)
        return source_call

    # -- spans and phases -------------------------------------------------

    def _span(self, name: str, t0: float) -> None:
        t1 = time.perf_counter()
        self.op["spans"].append({"name": name, "start": t0, "end": t1,
                                 "parent": self._phase})
        self.op["times"][name] += t1 - t0

    def _set_group(self, suffix: str):
        self._quiet += 1
        try:
            prev = self.sc.getLocalProperty("spark.jobGroup.id")
            self.sc.setJobGroup(f"{self.op['group']}{suffix}", self.op["name"])
            return prev
        finally:
            self._quiet -= 1

    def _restore_group(self, prev) -> None:
        self._quiet += 1
        try:
            self.sc.setLocalProperty("spark.jobGroup.id", prev)
        finally:
            self._quiet -= 1

    def begin_op(self, index: int, name: str) -> None:
        self.op = {"index": index, "name": name, "group": f"pb{index}.",
                   "spans": [], "times": Counter(), "counts": Counter()}

    @contextmanager
    def phase(self, phase: str):
        """Run a phase of the current operation (``construct``, ``plan``
        or ``exec``) under its own job group and span."""
        prev = self._set_group(_PHASE_GROUPS[phase])
        self._phase = phase
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self._phase = None
            self._span(f"op.{phase}", t0)
            self._restore_group(prev)

    def end_op(self, frame=None) -> dict:
        """Close the current operation: read the jobs of each phase from
        the status store and, when ``frame`` ran the action, the SQL
        metrics of its executed plan. Returns the operation's record."""
        op, self.op = self.op, None
        self._quiet += 1
        try:
            self.sc._jsc.sc().listenerBus().waitUntilEmpty()
            for suffix in _PHASE_GROUPS.values():
                self._read_jobs(op, suffix)
                self._read_jobs(op, suffix + "r")
            if frame is not None:
                self._read_plan(op, frame._jdf.queryExecution().executedPlan())
        finally:
            self._quiet -= 1
        op["times"] = dict(op["times"])
        op["counts"] = dict(op["counts"])
        self.spans.append(op)
        return op

    def _read_jobs(self, op: dict, suffix: str) -> None:
        """Count the jobs of one job group; for the exec phase also sum
        its stages' task metrics from the status store."""
        from py4j.protocol import Py4JJavaError

        store = self.sc._jsc.sc().statusStore()
        counts = op["counts"]
        for jid in self.sc.statusTracker().getJobIdsForGroup(
                f"{op['group']}{suffix}"):
            counts[f"jobs.{suffix}"] += 1
            if not suffix.startswith("x"):
                continue
            stage_ids = store.job(jid).stageIds()
            for k in range(stage_ids.size()):
                try:
                    st = store.lastStageAttempt(stage_ids.apply(k))
                except Py4JJavaError:
                    continue
                if st.status().toString() == "SKIPPED":
                    continue
                counts["stages"] += 1
                counts["tasks"] += st.numCompleteTasks()
                counts["failed_tasks"] += st.numFailedTasks()
                counts["task_run_s"] += st.executorRunTime() / 1e3
                counts["task_cpu_s"] += st.executorCpuTime() / 1e9
                counts["gc_s"] += st.jvmGcTime() / 1e3
                counts["input_bytes"] += st.inputBytes()
                counts["shuffle_read_bytes"] += st.shuffleReadBytes()
                counts["shuffle_write_bytes"] += st.shuffleWriteBytes()
                counts["spill_bytes"] += (st.memoryBytesSpilled()
                                          + st.diskBytesSpilled())

    def _read_plan(self, op: dict, node) -> None:
        counts = op["counts"]
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            return self._read_plan(op, node.executedPlan())
        if cls.endswith("QueryStageExec"):
            return self._read_plan(op, node.plan())
        if cls in ("ShuffleExchangeExec", "BroadcastExchangeExec"):
            counts["exchanges"] += 1
        metrics = node.metrics()
        for key, name in _PYTHON_METRICS.items():
            found = metrics.get(key)
            if found.isDefined():
                metric = found.get()
                value = metric.value()
                if metric.metricType() == "timing":
                    value /= 1e3
                elif metric.metricType() == "nsTiming":
                    value /= 1e9
                counts[name] += value
        children = node.children()
        for k in range(children.size()):
            self._read_plan(op, children.apply(k))
