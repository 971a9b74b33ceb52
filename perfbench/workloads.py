"""Workload definitions and the operations they run.

An operation is either one catalog query (construct the DataFrame, then
run the full-plan checksum action) or one table write or read through
``knime_core_columnar_spark.sources``. A pass runs every operation of a
workload once; the workload seed permutes the order within each pass.

README.md maps each layer's metrics to the end-to-end metric and the
workload they are predicted to move.
"""

from __future__ import annotations

import os
import random
import shutil

#: table -> RowID key columns, for the store round trips
STORE_TABLES = {"documents": ["doc_id"]}
STORE_FORMATS = ["parquet", "knime_arrow", "arrow_ipc"]


# BENCHMARK.json lists relational and store_roundtrip. A run costs 5-9 s
# of Spark start plus a cold first pass at three to five times a warm
# one, and the benchmark is sized so that 4 + 22 × (listed workloads) runs
# finish within 57 minutes: that holds two workloads with enough timed
# passes to be steady. neardup_iterative and llm_kernels run the same way
# when named. README.md gives the reason for each workload.
WORKLOADS = {
    "relational": (
        "simple_linear_workflow", "q3_shipping_priority",
        "join_customer_orders", "window_running_sum", "sort_topk",
        "filter_rows"),
    "store_roundtrip": tuple(
        f"{kind}:{table}:{fmt}" for table in STORE_TABLES
        for fmt in STORE_FORMATS for kind in ("write", "read")),
    "neardup_iterative": ("neardup_pipeline",),
    "llm_kernels": ("bpe_encode", "gopher_repetition", "png_pixel_stats"),
}


def pass_order(workload: str, rng: random.Random) -> list[str]:
    """One pass of ``workload`` in the order the seeded ``rng`` gives.
    Store operations move as (write, read) units so that every read
    follows the write of the path it reads."""
    ops = list(WORKLOADS[workload])
    if workload != "store_roundtrip":
        rng.shuffle(ops)
        return ops
    units = [ops[i:i + 2] for i in range(0, len(ops), 2)]
    rng.shuffle(units)
    return [op for unit in units for op in unit]


def checksum_frame(df):
    """The full-plan checksum action's frame: one row holding the row
    count and sum(xxhash64(every output column)), the expression
    ``bench._force`` evaluates (which does not return its value).
    Map-typed columns are not hashable by xxhash64, so they go through
    to_json first."""
    from pyspark.sql import functions as F

    cols = [
        F.to_json(F.col(f.name)) if "map<" in f.dataType.simpleString()
        else F.col(f.name)
        for f in df.schema.fields
    ]
    return df.agg(F.count(F.lit(1)).alias("rows"),
                  F.sum(F.xxhash64(*cols)).alias("checksum"))


def source_table(spark, data_dir: str, table: str):
    from knime_core_columnar_spark.table import ColumnarTable

    df = spark.read.parquet(os.path.join(data_dir, f"{table}.parquet"))
    return ColumnarTable.from_dataframe(df, key_columns=STORE_TABLES[table])


def store_path(work_dir: str, table: str, fmt: str) -> str:
    suffix = ".arrow" if fmt == "knime_arrow" else ""
    return os.path.join(work_dir, f"{table}_{fmt}{suffix}")


def store_write(spark, data_dir: str, work_dir: str, table: str,
                fmt: str) -> str:
    """Write ``table`` in ``fmt`` to a fresh path and return the path."""
    from knime_core_columnar_spark.sources import io as sio
    from knime_core_columnar_spark.sources import knime_arrow

    path = store_path(work_dir, table, fmt)
    remove_path(path)
    src = source_table(spark, data_dir, table)
    if fmt == "parquet":
        src.materialize(path)
    elif fmt == "knime_arrow":
        knime_arrow.write_knime_arrow(src, path)
    else:
        sio.write_arrow_ipc(src, path)
    return path


def store_read(spark, path: str, fmt: str):
    """Open what ``store_write`` wrote; returns the table's DataFrame."""
    from knime_core_columnar_spark.sources import io as sio
    from knime_core_columnar_spark.sources import knime_arrow
    from knime_core_columnar_spark.table import ColumnarTable

    if fmt == "parquet":
        return ColumnarTable.from_parquet(spark, path).df
    if fmt == "knime_arrow":
        return knime_arrow.read_knime_arrow(spark, path).df
    return sio.read_arrow_ipc(spark, path).df


def as_source_types(df, schema):
    """Cast a read-back frame to the written schema, so that a format's
    own type mapping (e.g. timestamp_ntz through pandas) does not change
    the checksum of equal values."""
    from pyspark.sql import functions as F

    return df.select(*[F.col(f.name).cast(f.dataType) for f in schema.fields])


def path_stats(path: str) -> tuple[int, int]:
    """(bytes, files) on disk under ``path``."""
    if os.path.isfile(path):
        return os.path.getsize(path), 1
    total = files = 0
    for root, _dirs, names in os.walk(path):
        for name in names:
            total += os.path.getsize(os.path.join(root, name))
            files += 1
    return total, files


def remove_path(path: str) -> None:
    if os.path.isdir(path):
        shutil.rmtree(path)
    elif os.path.exists(path):
        os.remove(path)
