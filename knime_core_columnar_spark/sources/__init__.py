"""Sources & sinks (SURVEY.md §2.4).

The reference's storage layer is an Arrow-IPC file store with LZ4
compression, batch-boundary metadata, and mmap zero-copy reads
(ArrowReaderWriterUtils.java:79-103, OffHeapArrowBatchWriter.java:96-200).
On Spark, Parquet supplies every physical property that store hand-built
(columnar batches ≅ row groups, dictionary encoding, compression, stats,
random batch access); Arrow remains supported as an *interchange* format.
"""

from knime_core_columnar_spark.sources.io import (
    create_table,
    read_arrow_ipc,
    read_csv,
    read_jsonl,
    write_arrow_ipc,
)

__all__ = [
    "create_table",
    "read_arrow_ipc",
    "read_csv",
    "read_jsonl",
    "write_arrow_ipc",
]
