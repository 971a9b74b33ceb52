"""Parquet schema resolution from Spark's footer stamp.

Spark's Parquet writer stores the written frame's schema in every footer.
``parquet_schema`` answers from it when it is exactly what Spark's own
inference would return, and otherwise leaves the answer to Spark. These
tests pin the equivalence on a Spark-written table of every column kind,
that reading it back fires no Spark job, that each case Spark answers
differently falls back, and that a missing path still raises Spark's
error.
"""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.errors import AnalysisException
from pyspark.sql import functions as F

from knime_core_columnar_spark.schema import (
    _footer_schema,
    parquet_schema,
    read_parquet,
)
from knime_core_columnar_spark.table import ColumnarTable


def _all_kinds(spark):
    return spark.range(0, 40, numPartitions=3).select(
        F.col("id"),
        F.concat(F.lit("s"), F.col("id").cast("string")).alias("s"),
        (F.col("id") / 3).alias("d"),
        (F.col("id").cast("decimal(18,4)") / 7).cast("decimal(18,4)")
        .alias("dec", metadata={"knime.logical_type": "Decimal"}),
        F.date_add(F.lit("2024-01-01").cast("date"), F.col("id").cast("int"))
        .alias("dt"),
        F.timestamp_seconds(F.col("id") * 3600).alias("ts"),
        F.timestamp_seconds(F.col("id")).cast("timestamp_ntz").alias("ts_ntz"),
        F.col("id").cast("string").cast("binary").alias("bin"),
        F.array(F.col("id"), F.lit(None).cast("long")).alias("arr"),
        F.create_map(F.lit("k"), F.col("id")).alias("m"),
        F.struct(F.col("id").alias("a"), F.lit("x").alias("b"))
        .alias("st", metadata={"knime.factory_version": "0"}),
    )


def test_stamped_schema_equals_inference(spark, tmp_path, jobs_fired):
    path = str(tmp_path / "t")
    _all_kinds(spark).write.parquet(path)

    resolved, jobs = jobs_fired(lambda: parquet_schema(spark, path))
    assert jobs == 0
    assert resolved == spark.read.parquet(path).schema
    assert resolved["dec"].metadata == {"knime.logical_type": "Decimal"}
    assert resolved["st"].metadata == {"knime.factory_version": "0"}


def test_from_parquet_fires_no_job(spark, tmp_path, jobs_fired):
    path = str(tmp_path / "t")
    _all_kinds(spark).write.parquet(path)

    table, jobs = jobs_fired(
        lambda: ColumnarTable.from_parquet(spark, path, key_columns=["id"]))
    assert jobs == 0
    inferred = ColumnarTable.from_dataframe(
        spark.read.parquet(path), key_columns=["id"]).df
    assert table.df.schema == inferred.schema
    cols = [F.to_json(c) if c == "m" else F.col(c) for c in table.df.columns]
    assert sorted(table.df.select(*cols).collect()) == sorted(
        inferred.select(*cols).collect())


def _pyarrow_file(spark, tmp_path):
    path = tmp_path / "arrow.parquet"
    pq.write_table(pa.table({"x": pa.array([1, 2], pa.int64()),
                             "t": pa.array([1, 2], pa.timestamp("us"))}), path)
    return str(path)


def _partitioned(spark, tmp_path):
    path = str(tmp_path / "parts")
    spark.range(6).withColumn("k", F.col("id") % 2).write.partitionBy(
        "k").parquet(path)
    return path


def _common_metadata(spark, tmp_path):
    path = tmp_path / "summary"
    spark.range(6).write.parquet(str(path))
    # Spark infers from the summary file first; it names a column the
    # data files' stamp does not have.
    pq.write_metadata(pa.schema([("id", pa.int64()), ("extra", pa.string())]),
                      path / "_common_metadata")
    return str(path)


def _merge_schema(spark, tmp_path):
    path = str(tmp_path / "merged")
    spark.range(3).write.parquet(f"{path}/a.parquet")
    spark.range(3).withColumn("more", F.lit("x")).write.parquet(
        f"{path}/b.parquet")
    flat = tmp_path / "flat"
    flat.mkdir()
    # the first file in sorted order lacks the column only the merge adds
    for name in ("a", "b"):
        part = next(p for p in (tmp_path / "merged" / f"{name}.parquet").iterdir()
                    if p.name.startswith("part-") and p.stat().st_size)
        part.rename(flat / f"{name}-{part.name}")
    return str(flat)


@pytest.mark.parametrize("make", [_pyarrow_file, _partitioned,
                                  _common_metadata, _merge_schema])
def test_fallbacks_return_inferred_schema(spark, tmp_path, make):
    path = make(spark, tmp_path)
    merge = make is _merge_schema
    if merge:
        spark.conf.set("spark.sql.parquet.mergeSchema", "true")
    try:
        assert _footer_schema(spark, path) is None
        inferred = spark.read.parquet(path).schema
        assert parquet_schema(spark, path) == inferred
        assert read_parquet(spark, path).schema == inferred
    finally:
        spark.conf.unset("spark.sql.parquet.mergeSchema")
    if merge:
        assert "more" in inferred.fieldNames()
        assert "more" not in parquet_schema(spark, path).fieldNames()


def test_missing_path_raises_sparks_error(spark, tmp_path):
    missing = str(tmp_path / "absent")
    for resolve in (parquet_schema, read_parquet):
        with pytest.raises(AnalysisException, match="PATH_NOT_FOUND"):
            resolve(spark, missing)
