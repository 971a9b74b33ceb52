"""Readers, writers, and the ingest pipeline.

``create_table`` mirrors the reference's TableBackend.create write path
(ColumnarTableBackend.java:116-148 + the DefaultColumnarBatchStore stack,
SURVEY.md §3.1): schema-declared ingest with RowID duplicate checking
and optional domain computation. The reference runs those as async
single-node pipeline stages; here they are one distributed aggregation
each, and the physical concerns (batching, dict encoding, compression,
caching) belong to Parquet/Tungsten.

Arrow IPC support comes in two tiers:
- driver tier (small files): pyarrow read → createDataFrame (zero-copy
  Arrow path), toArrow() → pyarrow write;
- distributed tier (many/large files): binaryFile source + mapInPandas
  decode so each executor parses its own files — no driver bottleneck.
"""

from __future__ import annotations

import os
from collections.abc import Iterator, Sequence

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from knime_core_columnar_spark.operators.domain import attach_domains, compute_domains
from knime_core_columnar_spark.table import ColumnarTable


def read_csv(
    spark: SparkSession,
    path: str,
    schema: T.StructType | str | None = None,
    header: bool = True,
    key_columns: Sequence[str] | None = None,
    **options,
) -> ColumnarTable:
    """CSV ingest (the reference exercises CSV through the benchmark
    workflow's CSV Reader node). Declared schema preferred — inference
    costs an extra pass and the reference never infers (SURVEY §1.3)."""
    reader = spark.read.option("header", str(header).lower())
    if schema is not None:
        reader = reader.schema(schema)
    else:
        reader = reader.option("inferSchema", "true")
    for k, v in options.items():
        reader = reader.option(k, v)
    return ColumnarTable.from_dataframe(reader.csv(path), key_columns=key_columns)


def read_jsonl(
    spark: SparkSession,
    path: str,
    schema: T.StructType | str | None = None,
    key_columns: Sequence[str] | None = None,
) -> ColumnarTable:
    """JSON-lines ingest (the de-facto LLM corpus interchange format)."""
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return ColumnarTable.from_dataframe(reader.json(path), key_columns=key_columns)


def read_orc(
    spark: SparkSession,
    path: str,
    key_columns: Sequence[str] | None = None,
) -> ColumnarTable:
    """ORC ingest — the columnar format of the Hive/Presto world; same
    predicate-pushdown + column-pruning story as Parquet (Spark's ORC
    reader is vectorized and pushes filters into stripe/row-group
    skipping)."""
    return ColumnarTable.from_dataframe(spark.read.orc(path), key_columns=key_columns)


def write_orc(table: ColumnarTable, path: str, mode: str = "error") -> None:
    """ORC export (zstd-compressed, matching the parquet default)."""
    table.df.write.mode(mode).option("compression", "zstd").orc(path)


def read_avro(
    spark: SparkSession,
    path: str,
    key_columns: Sequence[str] | None = None,
) -> ColumnarTable:
    """Avro ingest. Spark treats Avro as an external module
    (org.apache.spark:spark-avro); when the jar is present it wins (JVM
    vectorized decode). Without it, fall back to the pure-Python
    container decoder in sources/avro.py — same two-tier (driver /
    binaryFile+mapInPandas) shape as the Arrow IPC source, implemented
    from the public Avro 1.11 spec."""
    try:
        df = spark.read.format("avro").load(path)
    except Exception as e:
        # fall back ONLY on the missing-data-source error; anything else
        # (bad path, corrupt file with the jar present) must surface as-is
        if "Failed to find data source" not in str(e):
            raise
        from knime_core_columnar_spark.sources.avro import read_avro_py

        return read_avro_py(spark, path, key_columns=key_columns)
    return ColumnarTable.from_dataframe(df, key_columns=key_columns)


def _decode_arrow_ipc(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas kernel: every record batch of every Arrow IPC file in
    the ``content`` column. Module-level, so it is pickled by reference
    and unpickling it imports the engine in the Python worker."""
    import pyarrow as pa
    import pyarrow.ipc  # noqa: F401 (open_file below)

    for pdf in batches:
        for raw in pdf["content"]:
            reader = pa.ipc.open_file(pa.BufferReader(bytes(raw)))
            for i in range(reader.num_record_batches):
                yield reader.get_batch(i).to_pandas()


def read_arrow_ipc(
    spark: SparkSession,
    path: str,
    key_columns: Sequence[str] | None = None,
) -> ColumnarTable:
    """Arrow IPC file(s) → table.

    The reference's native store is Arrow IPC with KNIME footer metadata
    (ArrowReaderWriterUtils.java:79-103). A single file takes the driver
    path (pyarrow → Arrow-native createDataFrame, no pandas in between, so
    a nullable int64 stays bigint). A directory takes the distributed
    path: Spark's binaryFile source lists and ships files to executors,
    each decoded by :func:`_decode_arrow_ipc` inside mapInPandas — scales
    to any file count with zero driver involvement. Both paths map the
    Arrow schema to the same Spark schema.
    """
    import pyarrow as pa
    import pyarrow.ipc

    if not os.path.isdir(path):
        with pa.memory_map(path) as source:
            table = pa.ipc.open_file(source).read_all()
        return ColumnarTable.from_dataframe(
            spark.createDataFrame(table), key_columns=key_columns
        )

    sample = None
    for root, _dirs, files in os.walk(path):
        for f in sorted(files):
            if f.endswith((".arrow", ".ipc")):
                sample = os.path.join(root, f)
                break
        if sample:
            break
    if sample is None:
        raise FileNotFoundError(f"no .arrow/.ipc files under {path}")
    from pyspark.sql.pandas.types import from_arrow_schema

    with pa.memory_map(sample) as source:
        arrow_schema = pa.ipc.open_file(source).schema
    spark_schema = from_arrow_schema(arrow_schema)

    # Hadoop glob alternation covers both extensions — a single '*.arrow'
    # filter silently skipped .ipc files the sample scan had accepted.
    files_df = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.{arrow,ipc}")
        .load(path)
    )
    df = files_df.select("content").mapInPandas(_decode_arrow_ipc, spark_schema)
    return ColumnarTable.from_dataframe(df, key_columns=key_columns)


def write_arrow_ipc(table: ColumnarTable, directory: str) -> list[str]:
    """Distributed Arrow IPC export: each partition writes its own
    ``part-*.arrow`` file via pyarrow (executor-side, parallel, no
    driver collect). ``directory`` must be executor-visible: each write
    task first re-reads the :mod:`.fscheck` marker and the export raises
    ``RuntimeError`` when it cannot. A table with no rows gets one
    schema-only shard from the driver, so the directory reads back as an
    empty table. Returns the written paths."""
    import pyarrow as pa
    import pyarrow.ipc
    from pyspark.sql.pandas.types import to_arrow_schema

    from . import fsio
    from .fscheck import executor_visible

    schema_json = table.df.schema.json()

    def write_partition(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import uuid

        import pyarrow as _pa
        import pyarrow.ipc  # noqa: F401 (sink/new_file below)

        from knime_core_columnar_spark.sources import fsio as _fsio

        check_marker()
        spark_schema = T.StructType.fromJson(__import__("json").loads(schema_json))
        arrow_schema = to_arrow_schema(spark_schema)
        shard = f"part-{uuid.uuid4().hex}.arrow"
        writer = None
        n = 0
        finalize = None  # temp→final rename, run only after a clean close
        for pdf in batches:
            batch = pa.RecordBatch.from_pandas(pdf, schema=arrow_schema, preserve_index=False)
            if writer is None:
                # batches STREAM to the sink (bounded memory per task) on
                # both tiers: OSFile on mount paths, the pyarrow.fs output
                # stream (Arrow-native S3/GCS/Azure multipart upload) on
                # URI destinations. POSIX-like targets (plain mounts,
                # file://, hdfs://) stream to a .part temp and rename on
                # close — fsio.write_shard_bytes's atomicity contract — so
                # a killed task never leaves a truncated part-*.arrow
                # visible to concurrent readers; object stores stream to
                # the final key directly (the PUT completes atomically on
                # close, and rename there is a full copy).
                if _fsio.is_uri(directory):
                    fs, root = _fsio.resolve_fs(directory)
                    fname = f"{directory.rstrip('/')}/{shard}"
                    final_key = f"{root.rstrip('/')}/{shard}"
                    if fs.type_name in _fsio._POSIX_FS_TYPES:
                        tmp_key = f"{final_key}.part{os.getpid()}"
                        sink = fs.open_output_stream(tmp_key)
                        finalize = lambda: fs.move(tmp_key, final_key)  # noqa: E731
                    else:
                        sink = fs.open_output_stream(final_key)
                else:
                    fname = os.path.join(directory, shard)
                    tmp_path = f"{fname}.part{os.getpid()}"
                    sink = _pa.OSFile(tmp_path, "wb")
                    finalize = lambda: os.replace(tmp_path, fname)  # noqa: E731
                writer = pa.ipc.new_file(sink, arrow_schema)
            writer.write_batch(batch)
            n += len(pdf)
        if writer is not None:
            writer.close()
            sink.close()
            if finalize is not None:
                finalize()
            yield pd.DataFrame({"path": [fname], "rows": [n]})

    with executor_visible(directory) as check_marker:
        res = table.df.mapInPandas(write_partition, "path string, rows long").collect()
        if res:
            return [r["path"] for r in res]
        sink = pa.BufferOutputStream()
        pa.ipc.new_file(sink, to_arrow_schema(table.df.schema)).close()
        return [fsio.write_shard_bytes(
            directory, "part-empty.arrow", sink.getvalue().to_pybytes()
        )]


def create_table(
    spark: SparkSession,
    data: DataFrame | Sequence[tuple],
    schema: T.StructType | str | None = None,
    key_columns: Sequence[str] | None = None,
    compute_column_domains: bool = False,
    max_nominal_values: int = 60,
) -> ColumnarTable:
    """The TableBackend.create ingest path (ColumnarTableBackend.java:116):
    build a table with declared schema; always verify RowID uniqueness
    (DuplicateCheckWritable; SURVEY risk 3: the check must never be
    skipped) and optionally compute column domains (DomainWritable) —
    each one distributed aggregation, mirroring the write-pipeline
    operators of SURVEY §2.3."""
    if isinstance(data, DataFrame):
        df = data
    else:
        df = spark.createDataFrame(data, schema)
    table = ColumnarTable.from_dataframe(df, key_columns=key_columns)
    table.check_duplicate_keys()
    if compute_column_domains:
        doms = compute_domains(table, max_nominal_values=max_nominal_values)
        table = attach_domains(table, doms)
    return table
