"""SparkSession factory with scale-oriented defaults.

The reference tunes a single-JVM pipeline (batch geometry, cache sizes,
thread pools — ``ColumnarPreferenceUtils.java:161-262``,
``HeapBadger.java:94-97``). On Spark the equivalents are session-level
configs: AQE for runtime re-planning, partition sizing, broadcast
thresholds, Arrow for the Python boundary. Tests run on ``local[N]`` but
every default below is chosen to also hold on a 1000-executor cluster.

The driver boundary is tuned too: PySpark's DataFrame call-site capture
(``spark.python.sql.dataFrameDebugging.enabled``) is off, because with it
on every Column or DataFrame call sends extra py4j commands to record
the Python stack (``F.col("a").cast("string").alias("b")`` costs 35
round trips instead of 5). The price is that an ``AnalysisException``
no longer names the Python line that built the failing column; pass
``extra_conf={"spark.python.sql.dataFrameDebugging.enabled": "true"}``
to :func:`get_spark` to get it back while debugging.

Operators that reuse an intermediate frame pin it through
:func:`checkpoint`, the one materialization rule of the engine.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

# Parquet row groups ≅ the reference's ~64 MiB write batches
# (HeapBadger.java:97); 128 MiB input splits are the Spark-standard
# balance between task overhead and memory at 100 TB inputs.
_DEFAULTS: dict[str, str] = {
    # Runtime re-planning: coalesce small shuffle partitions, split skewed
    # ones, demote/promote join strategies with real statistics.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow-accelerated Python boundary (Pandas UDFs, toPandas).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "32768",
    # Broadcast dims up to 64 MiB — region/nation/supplier style tables
    # stay broadcast even at large SF.
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    # Scan geometry.
    "spark.sql.files.maxPartitionBytes": str(128 * 1024 * 1024),
    "spark.sql.parquet.compression.codec": "zstd",
    "spark.sql.parquet.filterPushdown": "true",
    # Read INT64 TIMESTAMP(NANOS) parquet columns (e.g. events.ts) as long;
    # catalog/_registry._t converts them to timestamp_ntz at micro precision.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.parquet.aggregatePushdown": "true",
    # Planner niceties.
    "spark.sql.cbo.enabled": "true",
    "spark.sql.ansi.enabled": "false",
    "spark.sql.session.timeZone": "UTC",
    # Driver boundary: no per-call Python call-site capture (see the
    # module docstring).
    "spark.python.sql.dataFrameDebugging.enabled": "false",
}


def get_spark(
    app_name: str = "knime-core-columnar-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or fetch) a SparkSession with engine defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` locally; on a real
    cluster leave it unset and submit through spark-submit / YARN / K8s.
    ``shuffle_partitions`` defaults to 32 locally (matching local cores);
    on a cluster AQE coalescing makes a high initial value safe, so pass
    e.g. 2000 there.
    """
    builder = SparkSession.builder.appName(app_name)
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
        master = f"local[{cpus}]"
    builder = builder.master(master)
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    conf = dict(_DEFAULTS)
    conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    conf.setdefault("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    conf["spark.ui.enabled"] = "false"
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def checkpoint(df: DataFrame) -> DataFrame:
    """Pin ``df`` so every consumer reads one materialization of it and
    its plan stops growing: the engine's one materialization rule.

    The checkpoint is lazy: the first job that reads the frame writes
    it. Where it goes follows Spark's own deployment setting. With no
    checkpoint directory it is a ``localCheckpoint`` into executor
    block storage, which is lost with its executor, so an executor loss
    fails the query. When the SparkContext has a checkpoint directory
    (``spark.checkpoint.dir`` or ``setCheckpointDir``) it is a reliable
    ``checkpoint`` there, and an executor loss recomputes instead. The
    reliable write runs as one more job after the first job that reads
    the frame, recomputing the frame from its lineage.

    Lazy does not mean no job at construction under AQE: building the
    checkpoint executes the plan's query stages, so a frame over an
    exchange runs that exchange's map stage right away. Measured on
    Spark 4.1 ``local[2]`` for a groupBy frame: lazy took 1 job at
    construction and 2 at ``count()``, eager 2 and 2.
    """
    if df.sparkSession.sparkContext.getCheckpointDir() is None:
        return df.localCheckpoint(eager=False)
    return df.checkpoint(eager=False)
