"""Pure-Python Avro Object Container File source/sink.

Spark treats Avro as an external module (org.apache.spark:spark-avro);
this environment ships without the jar, so the reader/writer here are
implemented directly from the PUBLIC Avro 1.11 specification
(https://avro.apache.org/docs/1.11.1/specification/ — container layout,
zigzag-varint binary encoding, deflate codec = raw RFC-1951). The Spark
type mapping mirrors spark-avro's public SchemaConverters contract
(union [null, T] -> nullable T, int/long -> long, float/double ->
double, enum -> string, fixed -> binary, logical date / timestamp-micros
/ timestamp-millis / decimal).

Scale story (same two-tier shape as ``read_arrow_ipc`` in io.py):
- driver tier: one small file decoded with the per-schema compiled
  reader, then Arrow-path ``createDataFrame``;
- distributed tier: Spark's binaryFile source lists the directory and
  ships each .avro file to an executor, which decodes its own file
  inside ``mapInPandas`` — per-file parallelism, no driver bottleneck.
Avro is a row format: there is no column pruning or predicate pushdown
to be had at the scan (true of the JVM reader too) — it is an ingest
format; persistent storage belongs in Parquet/ORC.

The write side (``write_avro``) encodes each Spark partition to its own
``part-*.avro`` container executor-side (deflate by default), mirroring
``write_arrow_ipc``'s distributed export.

Codecs: ``null`` and ``deflate`` (both from the stdlib). ``snappy`` /
``zstandard`` files raise with a clear message — those libs are not in
this container.
"""

from __future__ import annotations

import io as _io
import json
import os
import struct
import zlib
from collections.abc import Iterator, Sequence
from decimal import Decimal

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F  # noqa: F401  (parity with sibling modules)
from pyspark.sql import types as T

MAGIC = b"Obj\x01"
SYNC_SIZE = 16

# ---------------------------------------------------------------------------
# Binary primitives (Avro spec "Binary Encoding")
# ---------------------------------------------------------------------------


class _Cursor:
    __slots__ = ("buf", "pos")

    def __init__(self, buf: bytes, pos: int = 0):
        self.buf = buf
        self.pos = pos


def _read_long(cur: _Cursor) -> int:
    """Zigzag base-128 varint (spec: int and long share this wire form)."""
    buf, pos = cur.buf, cur.pos
    b = buf[pos]
    pos += 1
    n = b & 0x7F
    shift = 7
    while b & 0x80:
        b = buf[pos]
        pos += 1
        n |= (b & 0x7F) << shift
        shift += 7
    cur.pos = pos
    return (n >> 1) ^ -(n & 1)


def _read_bytes(cur: _Cursor) -> bytes:
    n = _read_long(cur)
    out = cur.buf[cur.pos : cur.pos + n]
    cur.pos += n
    return out


def _write_long(out: bytearray, n: int) -> None:
    n = (n << 1) ^ (n >> 63) if n >= 0 else (((-n) << 1) - 1)
    while True:
        b = n & 0x7F
        n >>= 7
        if n:
            out.append(b | 0x80)
        else:
            out.append(b)
            return


def _write_bytes(out: bytearray, b: bytes) -> None:
    _write_long(out, len(b))
    out += b


# ---------------------------------------------------------------------------
# Avro schema JSON -> (Spark type, compiled value reader)
# ---------------------------------------------------------------------------

_PRIMITIVE_SPARK = {
    "null": T.NullType(),
    "boolean": T.BooleanType(),
    "int": T.IntegerType(),
    "long": T.LongType(),
    "float": T.FloatType(),
    "double": T.DoubleType(),
    "bytes": T.BinaryType(),
    "string": T.StringType(),
}


def _compile_reader(schema, names: dict):
    """Return (spark_type, reader(cursor) -> python value).

    ``names`` maps already-seen record/enum/fixed fullnames so named-type
    references resolve (spec: "Names").
    """
    if isinstance(schema, str) and schema in names:
        return names[schema]
    if isinstance(schema, str):
        st = _PRIMITIVE_SPARK.get(schema)
        if st is None:
            raise ValueError(f"unknown avro type {schema!r}")
        if schema == "null":
            return st, lambda cur: None
        if schema == "boolean":
            def rd_bool(cur):
                v = cur.buf[cur.pos] != 0
                cur.pos += 1
                return v
            return st, rd_bool
        if schema in ("int", "long"):
            return st, _read_long
        if schema == "float":
            def rd_float(cur):
                (v,) = struct.unpack_from("<f", cur.buf, cur.pos)
                cur.pos += 4
                return v
            return st, rd_float
        if schema == "double":
            def rd_double(cur):
                (v,) = struct.unpack_from("<d", cur.buf, cur.pos)
                cur.pos += 8
                return v
            return st, rd_double
        if schema == "bytes":
            return st, lambda cur: bytes(_read_bytes(cur))
        return st, lambda cur: _read_bytes(cur).decode("utf-8")  # string

    if isinstance(schema, list):  # union
        return _compile_union(schema, names)

    if not isinstance(schema, dict):
        raise ValueError(f"bad avro schema node: {schema!r}")
    typ = schema["type"]
    logical = schema.get("logicalType")

    # logical types ride on a primitive carrier
    if logical == "date" and typ == "int":
        import datetime
        epoch = datetime.date(1970, 1, 1)
        delta = datetime.timedelta
        return T.DateType(), lambda cur: epoch + delta(days=_read_long(cur))
    if logical in ("timestamp-micros", "local-timestamp-micros") and typ == "long":
        return T.TimestampType(), _read_long  # micros; column-level convert
    if logical in ("timestamp-millis", "local-timestamp-millis") and typ == "long":
        return T.TimestampType(), lambda cur: _read_long(cur) * 1000
    if logical == "decimal" and typ in ("bytes", "fixed"):
        prec = int(schema.get("precision", 38))
        scale = int(schema.get("scale", 0))
        size = int(schema.get("size", 0))
        sc = Decimal(10) ** -scale

        def rd_dec(cur):
            raw = _read_fixed(cur, size) if typ == "fixed" else _read_bytes(cur)
            return Decimal(int.from_bytes(raw, "big", signed=True)) * sc

        st = T.DecimalType(prec, scale)
        if typ == "fixed":
            names[_fullname(schema)] = (st, rd_dec)
        return st, rd_dec
    if logical == "uuid" and typ == "string":
        return T.StringType(), lambda cur: _read_bytes(cur).decode("utf-8")
    if logical in ("time-millis", "time-micros"):
        # Spark<4.1-compatible mapping: keep the raw long/int (spark-avro
        # historically did the same before TimeType existed)
        return (
            (T.IntegerType(), _read_long)
            if typ == "int"
            else (T.LongType(), _read_long)
        )

    if typ in _PRIMITIVE_SPARK or (isinstance(typ, (dict, list))):
        # {"type": "long"} wrapper or nested complex under "type"
        if typ in _PRIMITIVE_SPARK:
            return _compile_reader(typ, names)
        return _compile_reader(typ, names)

    if typ == "record":
        fields = schema["fields"]
        compiled = []
        spark_fields = []
        # registered eagerly so self-references would at least error clearly
        for f in fields:
            st, rd = _compile_reader(f["type"], names)
            nullable = _is_nullable(f["type"])
            spark_fields.append(T.StructField(f["name"], st, nullable))
            compiled.append(rd)
        st = T.StructType(spark_fields)

        def rd_record(cur, _compiled=tuple(compiled)):
            return tuple(rd(cur) for rd in _compiled)

        names[_fullname(schema)] = (st, rd_record)
        return st, rd_record

    if typ == "enum":
        symbols = schema["symbols"]

        def rd_enum(cur):
            return symbols[_read_long(cur)]

        names[_fullname(schema)] = (T.StringType(), rd_enum)
        return T.StringType(), rd_enum

    if typ == "fixed":
        size = int(schema["size"])

        def rd_fix(cur):
            return _read_fixed(cur, size)

        names[_fullname(schema)] = (T.BinaryType(), rd_fix)
        return T.BinaryType(), rd_fix

    if typ == "array":
        ist, ird = _compile_reader(schema["items"], names)

        def rd_array(cur):
            out = []
            while True:
                n = _read_long(cur)
                if n == 0:
                    return out
                if n < 0:
                    n = -n
                    _read_long(cur)  # block byte size — skippable hint
                for _ in range(n):
                    out.append(ird(cur))

        return T.ArrayType(ist, _is_nullable(schema["items"])), rd_array

    if typ == "map":
        vst, vrd = _compile_reader(schema["values"], names)

        def rd_map(cur):
            out = {}
            while True:
                n = _read_long(cur)
                if n == 0:
                    return out
                if n < 0:
                    n = -n
                    _read_long(cur)
                for _ in range(n):
                    k = _read_bytes(cur).decode("utf-8")
                    out[k] = vrd(cur)

        return (
            T.MapType(T.StringType(), vst, _is_nullable(schema["values"])),
            rd_map,
        )

    raise ValueError(f"unsupported avro type {typ!r}")


def _read_fixed(cur: _Cursor, size: int) -> bytes:
    out = cur.buf[cur.pos : cur.pos + size]
    cur.pos += size
    return bytes(out)


def _fullname(schema: dict) -> str:
    ns = schema.get("namespace")
    name = schema["name"]
    return f"{ns}.{name}" if ns and "." not in name else name


def _is_nullable(schema) -> bool:
    return isinstance(schema, list) and any(
        b == "null" or (isinstance(b, dict) and b.get("type") == "null")
        for b in schema
    )


def _compile_union(branches: list, names: dict):
    """spark-avro's public union contract: [null, T] -> nullable T;
    [int, long] -> long; [float, double] -> double. Anything wider needs
    the JVM reader's member-struct encoding — raise clearly."""
    non_null = [
        b for b in branches
        if not (b == "null" or (isinstance(b, dict) and b.get("type") == "null"))
    ]
    readers = [None] * len(branches)
    if len(non_null) == 1:
        st, rd = _compile_reader(non_null[0], names)
    elif {b for b in non_null if isinstance(b, str)} == {"int", "long"} and len(
        non_null
    ) == 2:
        st, rd = T.LongType(), _read_long
    elif {b for b in non_null if isinstance(b, str)} == {"float", "double"} and len(
        non_null
    ) == 2:
        st, rd = _compile_reader("double", names)
        frd = _compile_reader("float", names)[1]
        for i, b in enumerate(branches):
            if b == "float":
                readers[i] = frd
    else:
        raise NotImplementedError(
            f"complex avro union {branches!r}: only [null, T], [int, long] "
            "and [float, double] unions are supported (the JVM spark-avro "
            "reader maps wider unions to member structs)"
        )
    for i, b in enumerate(branches):
        if b == "null" or (isinstance(b, dict) and b.get("type") == "null"):
            readers[i] = lambda cur: None
        elif readers[i] is None:
            readers[i] = rd

    def rd_union(cur, _readers=tuple(readers)):
        return _readers[_read_long(cur)](cur)

    return st, rd_union


# ---------------------------------------------------------------------------
# Container file decode
# ---------------------------------------------------------------------------


def _decompress(data: bytes, codec: str) -> bytes:
    if codec in ("null", ""):
        return data
    if codec == "deflate":
        return zlib.decompress(data, -15)  # raw RFC-1951 per spec
    raise NotImplementedError(
        f"avro codec {codec!r}: only 'null' and 'deflate' are available "
        "in this container (no snappy/zstandard libs)"
    )


def _read_header(cur: _Cursor) -> tuple[dict, str, bytes]:
    if cur.buf[:4] != MAGIC:
        raise ValueError("not an Avro object container file (bad magic)")
    cur.pos = 4
    meta: dict[str, bytes] = {}
    while True:
        n = _read_long(cur)
        if n == 0:
            break
        if n < 0:
            n = -n
            _read_long(cur)
        for _ in range(n):
            k = _read_bytes(cur).decode("utf-8")
            meta[k] = bytes(_read_bytes(cur))
    sync = _read_fixed(cur, SYNC_SIZE)
    schema = json.loads(meta["avro.schema"])
    codec = meta.get("avro.codec", b"null").decode("utf-8")
    return schema, codec, sync


def avro_spark_schema(schema) -> T.StructType:
    """Spark StructType for a top-level Avro record schema."""
    st, _ = _compile_reader(schema, {})
    if not isinstance(st, T.StructType):
        # spec allows non-record top level; wrap like spark-avro ("value")
        st = T.StructType([T.StructField("value", st, True)])
    return st


def _decode_file(data: bytes) -> tuple[T.StructType, list[tuple]]:
    """Decode a whole container file -> (spark schema, rows)."""
    cur = _Cursor(data)
    schema, codec, sync = _read_header(cur)
    st, rd = _compile_reader(schema, {})
    wrapped = not isinstance(st, T.StructType)
    rows: list[tuple] = []
    n_total = len(data)
    while cur.pos < n_total:
        count = _read_long(cur)
        size = _read_long(cur)
        block = _decompress(cur.buf[cur.pos : cur.pos + size], codec)
        cur.pos += size
        bcur = _Cursor(block)
        if wrapped:
            rows.extend((rd(bcur),) for _ in range(count))
        else:
            for _ in range(count):
                rows.append(rd(bcur))
        got = _read_fixed(cur, SYNC_SIZE)
        if got != sync:
            raise ValueError("avro sync marker mismatch (corrupt block)")
    return avro_spark_schema(schema), rows


def _ts_micro_cols(st: T.StructType) -> list[int]:
    return [
        i for i, f in enumerate(st.fields) if isinstance(f.dataType, T.TimestampType)
    ]


def _rows_to_pandas(st: T.StructType, rows: list[tuple]) -> pd.DataFrame:
    ts_idx = set(_ts_micro_cols(st))
    cols: dict[str, pd.Series] = {}
    for i, f in enumerate(st.fields):
        vals = [r[i] for r in rows]
        if i in ts_idx:
            # reader yields epoch-micros longs (None for nulls)
            cols[f.name] = pd.to_datetime(
                pd.Series(vals, dtype="Int64"), unit="us"
            )
        else:
            cols[f.name] = pd.Series(vals, dtype=object)
    return pd.DataFrame(cols)


def read_avro_py(
    spark: SparkSession,
    path: str,
    key_columns: Sequence[str] | None = None,
):
    """Avro container file(s) -> ColumnarTable via the pure-Python decoder.

    Directory inputs take the distributed tier: binaryFile listing +
    per-file executor decode (mapInPandas). Single files decode on the
    driver. Schema comes from the first file's header; all files must
    share it (same contract as spark-avro's default).
    """
    from knime_core_columnar_spark.table import ColumnarTable

    if not os.path.isdir(path):
        with open(path, "rb") as fh:
            data = fh.read()
        st, rows = _decode_file(data)
        pdf = _rows_to_pandas(st, rows)
        return ColumnarTable.from_dataframe(
            spark.createDataFrame(pdf, schema=st), key_columns=key_columns
        )

    sample = None
    for root, _dirs, files in os.walk(path):
        for f in sorted(files):
            if f.endswith(".avro"):
                sample = os.path.join(root, f)
                break
        if sample:
            break
    if sample is None:
        raise FileNotFoundError(f"no .avro files under {path}")
    with open(sample, "rb") as fh:
        head = fh.read(1 << 20)  # header fits well within 1 MiB
    schema, _codec, _sync = _read_header(_Cursor(head))
    st = avro_spark_schema(schema)

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf_in in batches:
            for raw in pdf_in["content"]:
                fst, rows = _decode_file(bytes(raw))
                yield _rows_to_pandas(fst, rows)

    files_df = (
        spark.read.format("binaryFile").option("pathGlobFilter", "*.avro").load(path)
    )
    df = files_df.select("content").mapInPandas(decode, st)
    return ColumnarTable.from_dataframe(df, key_columns=key_columns)


# ---------------------------------------------------------------------------
# Spark schema -> Avro schema + compiled writers
# ---------------------------------------------------------------------------


def spark_to_avro_schema(st: T.StructType, name: str = "spark_record") -> dict:
    counter = [0]

    def conv(dt: T.DataType, nullable: bool, field: str):
        avro = _conv_type(dt, field)
        return ["null", avro] if nullable else avro

    def _conv_type(dt: T.DataType, field: str):
        if isinstance(dt, T.BooleanType):
            return "boolean"
        if isinstance(dt, (T.ByteType, T.ShortType, T.IntegerType)):
            return "int"
        if isinstance(dt, T.LongType):
            return "long"
        if isinstance(dt, T.FloatType):
            return "float"
        if isinstance(dt, T.DoubleType):
            return "double"
        if isinstance(dt, T.StringType):
            return "string"
        if isinstance(dt, T.BinaryType):
            return "bytes"
        if isinstance(dt, T.DateType):
            return {"type": "int", "logicalType": "date"}
        if isinstance(dt, T.TimestampType):
            return {"type": "long", "logicalType": "timestamp-micros"}
        if isinstance(dt, T.DecimalType):
            return {
                "type": "bytes",
                "logicalType": "decimal",
                "precision": dt.precision,
                "scale": dt.scale,
            }
        if isinstance(dt, T.ArrayType):
            return {
                "type": "array",
                "items": conv(dt.elementType, dt.containsNull, field),
            }
        if isinstance(dt, T.MapType):
            if not isinstance(dt.keyType, T.StringType):
                raise NotImplementedError("avro maps require string keys")
            return {
                "type": "map",
                "values": conv(dt.valueType, dt.valueContainsNull, field),
            }
        if isinstance(dt, T.StructType):
            counter[0] += 1
            return {
                "type": "record",
                "name": f"{name}_{field}_{counter[0]}",
                "fields": [
                    {
                        "name": f.name,
                        "type": conv(f.dataType, f.nullable, f.name),
                    }
                    for f in dt.fields
                ],
            }
        raise NotImplementedError(f"no avro mapping for spark type {dt}")

    return {
        "type": "record",
        "name": name,
        "fields": [
            {"name": f.name, "type": conv(f.dataType, f.nullable, f.name)}
            for f in st.fields
        ],
    }


def _compile_writer(dt: T.DataType):
    """value writer(out, v) for a non-null python value of spark type dt."""
    if isinstance(dt, T.BooleanType):
        return lambda out, v: out.append(1 if v else 0)
    if isinstance(dt, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
        return lambda out, v: _write_long(out, int(v))
    if isinstance(dt, T.FloatType):
        return lambda out, v: out.extend(struct.pack("<f", float(v)))
    if isinstance(dt, T.DoubleType):
        return lambda out, v: out.extend(struct.pack("<d", float(v)))
    if isinstance(dt, T.StringType):
        return lambda out, v: _write_bytes(out, str(v).encode("utf-8"))
    if isinstance(dt, T.BinaryType):
        return lambda out, v: _write_bytes(out, bytes(v))
    if isinstance(dt, T.DateType):
        import datetime

        epoch = datetime.date(1970, 1, 1)

        def wr_date(out, v):
            if hasattr(v, "date") and not isinstance(v, datetime.date):
                v = v.date()
            elif hasattr(v, "to_pydatetime"):
                v = v.to_pydatetime().date()
            _write_long(out, (v - epoch).days)

        return wr_date
    if isinstance(dt, T.TimestampType):
        def wr_ts(out, v):
            if isinstance(v, pd.Timestamp):
                _write_long(out, v.value // 1000)  # ns -> us
            else:  # datetime
                import calendar

                micros = (
                    calendar.timegm(v.utctimetuple()) * 1_000_000 + v.microsecond
                    if v.tzinfo
                    else int(pd.Timestamp(v).value // 1000)
                )
                _write_long(out, micros)

        return wr_ts
    if isinstance(dt, T.DecimalType):
        scale = dt.scale

        def wr_dec(out, v):
            unscaled = int(Decimal(v).scaleb(scale).to_integral_value())
            nbytes = max(1, (unscaled.bit_length() + 8) // 8)
            _write_bytes(out, unscaled.to_bytes(nbytes, "big", signed=True))

        return wr_dec
    if isinstance(dt, T.ArrayType):
        iw = _compile_writer(dt.elementType)
        inull = dt.containsNull

        def wr_arr(out, v):
            v = list(v)
            if v:
                _write_long(out, len(v))
                for item in v:
                    _write_nullable(out, item, iw, inull)
            _write_long(out, 0)

        return wr_arr
    if isinstance(dt, T.MapType):
        vw = _compile_writer(dt.valueType)
        vnull = dt.valueContainsNull

        def wr_map(out, v):
            items = dict(v)
            if items:
                _write_long(out, len(items))
                for k, val in items.items():
                    _write_bytes(out, str(k).encode("utf-8"))
                    _write_nullable(out, val, vw, vnull)
            _write_long(out, 0)

        return wr_map
    if isinstance(dt, T.StructType):
        subs = [(_compile_writer(f.dataType), f.nullable) for f in dt.fields]
        fnames = [f.name for f in dt.fields]

        def wr_struct(out, v):
            vals = (
                [v.get(n) for n in fnames]
                if isinstance(v, dict)
                else list(v)
            )
            for (w, nullable), item in zip(subs, vals):
                _write_nullable(out, item, w, nullable)

        return wr_struct
    raise NotImplementedError(f"no avro writer for spark type {dt}")


def _write_nullable(out: bytearray, v, writer, nullable: bool) -> None:
    if nullable:
        # pandas nulls arrive as None, float NaN, pd.NaT, or pd.NA depending
        # on the column dtype; pd.isna is scalar-safe only for non-containers
        # (anything sized — str/bytes/list/dict/ndarray — is a value)
        if v is None or (not hasattr(v, "__len__") and pd.isna(v)):
            _write_long(out, 0)
            return
        _write_long(out, 1)
    writer(out, v)


def encode_container(
    st: T.StructType,
    row_iter,
    codec: str = "deflate",
    sync: bytes | None = None,
    rows_per_block: int = 4096,
) -> bytes:
    """Encode rows (sequences aligned with ``st``) into one container file."""
    import hashlib

    schema = spark_to_avro_schema(st)
    schema_json = json.dumps(schema)
    if sync is None:
        sync = hashlib.md5(schema_json.encode()).digest()
    writers = [(_compile_writer(f.dataType), f.nullable) for f in st.fields]

    out = bytearray()
    out += MAGIC
    meta = bytearray()
    _write_long(meta, 2)
    _write_bytes(meta, b"avro.schema")
    _write_bytes(meta, schema_json.encode("utf-8"))
    _write_bytes(meta, b"avro.codec")
    _write_bytes(meta, codec.encode("utf-8"))
    _write_long(meta, 0)
    out += meta
    out += sync

    block = bytearray()
    count = 0

    def flush():
        nonlocal block, count
        if not count:
            return
        data = bytes(block)
        if codec == "deflate":
            comp = zlib.compressobj(6, zlib.DEFLATED, -15)
            data = comp.compress(data) + comp.flush()
        elif codec != "null":
            raise NotImplementedError(f"write codec {codec!r}")
        _write_long(out, count)
        _write_long(out, len(data))
        out.extend(data)
        out.extend(sync)
        block = bytearray()
        count = 0

    for row in row_iter:
        for (w, nullable), v in zip(writers, row):
            _write_nullable(block, v, w, nullable)
        count += 1
        if count >= rows_per_block:
            flush()
    flush()
    return bytes(out)


def write_avro(
    table_or_df,
    directory: str,
    codec: str = "deflate",
    rows_per_block: int = 4096,
) -> list[str]:
    """Distributed Avro export: each Spark partition encodes its own
    ``part-*.avro`` container executor-side (no driver collect), same
    shape as ``write_arrow_ipc``. ``directory`` must be
    executor-visible: each write task first re-reads the
    :mod:`.fscheck` marker and the export raises ``RuntimeError`` when
    it cannot. A frame with no rows gets one header-only container from
    the driver, so the directory reads back as an empty table. Returns
    written paths."""
    from . import fsio
    from .fscheck import executor_visible

    df = table_or_df.df if hasattr(table_or_df, "df") else table_or_df
    schema_json = df.schema.json()

    def write_partition(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import uuid

        from knime_core_columnar_spark.sources import fsio as _fsio

        check_marker()
        st = T.StructType.fromJson(json.loads(schema_json))
        fname = f"part-{uuid.uuid4().hex}.avro"
        n = 0

        def rows():
            nonlocal n
            for pdf in batches:
                recs = list(pdf.itertuples(index=False, name=None))
                n += len(recs)
                yield from recs

        data = encode_container(
            st, rows(), codec=codec, rows_per_block=rows_per_block
        )
        if n:
            path = _fsio.write_shard_bytes(directory, fname, data)
            yield pd.DataFrame({"path": [path], "rows": [n]})

    with executor_visible(directory) as check_marker:
        res = df.mapInPandas(write_partition, "path string, rows long").collect()
        if res:
            return [r["path"] for r in res]
        data = encode_container(df.schema, [], codec=codec)
        return [fsio.write_shard_bytes(directory, "part-empty.avro", data)]
