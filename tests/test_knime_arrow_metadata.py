"""KNIME column metadata on the read schema, without the reference's
golden files.

``read_knime_arrow`` puts each column's ``knime.*`` metadata on the
fields of the schema it hands to ``createDataFrame``. These tests pin the
metadata of a ``write_knime_arrow`` round trip, that a synthetic
logical-type extension field and a legacy ZonedDateTime struct get the
same fields as the per-column ``withMetadata`` projections did, and that
the read frame's plan holds no projection.
"""

from __future__ import annotations

import pyarrow as pa
import pyarrow.ipc
from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from knime_core_columnar_spark.schema import ROW_KEY
from knime_core_columnar_spark.sources.knime_arrow import (
    EXT_META_KEY,
    EXT_NAME_KEY,
    KNIME_CHUNK_SIZE_KEY,
    KNIME_FACTORY_VERSIONS_KEY,
    LOGICAL_TYPE_EXT,
    read_knime_arrow,
    write_knime_arrow,
)
from knime_core_columnar_spark.table import ColumnarTable

INT_FACTORY = "org.knime.core.data.def.IntCell$IntCellFactory"


def _projects(df) -> int:
    return str(df._jdf.queryExecution().analyzed()).count("Project [")


def test_round_trip_carries_factory_versions(spark, tmp_path):
    src = ColumnarTable.from_dataframe(
        spark.range(50).select(
            F.col("id"),
            F.concat(F.lit("doc"), F.col("id").cast("string")).alias("text"),
            (F.col("id") / 4).alias("score")),
        key_columns=["id"])
    path = str(tmp_path / "t.arrow")
    write_knime_arrow(src, path)

    t = read_knime_arrow(spark, path)
    fields = {f.name: f.metadata for f in t.df.schema.fields}
    assert all(fields[c]["knime.factory_version"] == "0" for c in t.columns)
    assert fields["text"]["knime.struct_dict_encoded"] is True
    assert sorted(t.df.collect()) == sorted(src.df.collect())
    assert _projects(t.df) == 0


def _zone_id(zone: str) -> bytes:
    raw = zone.encode()
    return len(raw).to_bytes(4, "little") + raw


def _synthetic_file(path: str) -> None:
    lt = pa.array([1, None, 3], pa.int64())
    zdt = pa.StructArray.from_arrays(
        [pa.array([19000, 19001, 19002], pa.int64()),
         pa.array([1_000_000_001, 2, 3], pa.time64("ns")),
         pa.array([0, 3600, 0], pa.int32()),
         pa.DictionaryArray.from_arrays(
             pa.array([0, 1, 0], pa.int32()),
             pa.array([_zone_id("UTC"), _zone_id("Europe/Berlin")],
                      pa.large_binary()))],
        names=["epochDay", "nanoOfDay", "zoneOffset", "zoneId"])
    plain = pa.array(["a", "b", None], pa.string())
    schema = pa.schema([
        pa.field("lt", lt.type, metadata={
            EXT_NAME_KEY: LOGICAL_TYPE_EXT.encode(),
            EXT_META_KEY: INT_FACTORY.encode()}),
        pa.field("zdt", zdt.type),
        pa.field("plain", plain.type),
    ]).with_metadata({KNIME_CHUNK_SIZE_KEY: "3",
                      KNIME_FACTORY_VERSIONS_KEY: "1,2,0"})
    with pa.OSFile(path, "wb") as sink:
        with pa.ipc.new_file(sink, schema) as writer:
            writer.write_batch(
                pa.RecordBatch.from_arrays([lt, zdt, plain], schema=schema))


def test_logical_type_and_zdt_fields_match_with_metadata_path(
        spark, tmp_path, monkeypatch):
    path = str(tmp_path / "synthetic.arrow")
    _synthetic_file(path)
    handed = []
    create = SparkSession.createDataFrame

    def capture(self, data, *args, **kwargs):
        handed.append(data)
        return create(self, data, *args, **kwargs)

    monkeypatch.setattr(SparkSession, "createDataFrame", capture)
    t = read_knime_arrow(spark, path)
    monkeypatch.undo()

    expected = {
        "lt": {"knime.logical_type": INT_FACTORY,
               "knime.factory_version": "1"},
        "zdt": {"knime.logical_type": "ZonedDateTime", "knime.legacy": True,
                "knime.factory_version": "2"},
        "plain": {"knime.factory_version": "0"},
    }
    # the frame the per-column withMetadata projections built
    (arrow_table,) = handed
    projected = spark.createDataFrame(arrow_table)
    for name, meta in expected.items():
        projected = projected.withMetadata(name, meta)

    assert t.df.schema.fields == projected.schema.fields
    assert {f.name: f.metadata for f in t.df.schema.fields} == {
        ROW_KEY: {}, **expected}
    assert _projects(projected) == len(expected)
    assert _projects(t.df) == 0
    rows = t.df.orderBy(ROW_KEY).collect()
    assert [r["lt"] for r in rows] == [1, None, 3]
    assert [r["zdt"]["zone_id"] for r in rows] == ["UTC", "Europe/Berlin", "UTC"]
    assert rows[0]["zdt"]["nano_of_day"] == 1_000_000_001
