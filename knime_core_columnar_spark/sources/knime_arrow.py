"""KNIME-native Arrow IPC interop: read the reference engine's own files.

The reference's on-disk store is vanilla Arrow IPC plus a KNIME envelope:

- schema/footer metadata keys ``KNIME:basic:{chunkSize, factoryVersions,
  batchBoundaries, usingLz4Block}`` (ArrowReaderWriterUtils.java:79-103);
- Arrow extension types carried as field metadata
  (``ARROW:extension:name`` / ``ARROW:extension:metadata``):
  ``knime.logical_type`` whose serialized payload is the value-factory
  class name (LogicalTypeExtensionType.java:93) and
  ``knime.struct_dict_encoded`` (StructDictEncodedExtensionType.java:116);
- legacy (pre-logical-type) files encode temporals as raw physical
  structs, e.g. ZonedDateTime = ``struct<epochDay: int64, nanoOfDay:
  time64[ns], zoneOffset: int32, zoneId: dictionary<large_binary>>``
  where zoneId is a 4-byte-LE length-prefixed UTF-8 string (golden
  files: org.knime.core.columnar.arrow.tests/test_data/).

``read_knime_arrow`` surfaces all of that into Spark:
- KNIME footer keys → the returned table's ``knime_metadata`` dict;
- extension fields are unwrapped to their storage type with the logical
  type recorded in ``StructField.metadata["knime.logical_type"]``;
- ``knime.struct_dict_encoded`` columns are DECODED to their logical
  values: the storage is ``struct<dictKey: uint8/32/64, dictEntry: V>``
  where the entry is only materialized at the FIRST row of each key and
  later rows reference it (AbstractOnHeapArrowDictEncodedData.java:
  constructDictKeyIndexMap / getString) — decoding is a vectorized
  first-occurrence lookup + take, no per-row Python;
- the legacy ZonedDateTime struct is decoded to ``struct<epoch_day
  long, nano_of_day long (ns), zone_offset_seconds int, zone_id
  string>`` (nanosecond precision preserved — Spark timestamps are
  micros, so the physical fields stay lossless and a ``to_timestamp``
  view is one expression away);
- ``KNIME:basic:usingLz4Block=true`` legacy files (the reference's
  retired custom codec, Lz4BlockCompressionCodec.java: each IPC body
  buffer = 8-byte-LE uncompressed length, -1 ⇒ stored raw, else a raw
  LZ4 *block* — while the IPC metadata claims LZ4_FRAME) are decoded by
  a pure-Python LZ4-block decompressor: the embedded stream is rewritten
  message-by-message — buffers decompressed, the flatbuffer's Buffer
  offsets/lengths and bodyLength patched in place, the compression field
  cleared from the vtable — and handed back to pyarrow. Golden-file
  validated (test_data/LZ4_block_compression/data.arrow, semantics in
  Lz4BlockCompressionLegacyTest.java).

Two pyarrow gotchas this module absorbs:
- KNIME writes a NEW dictionary per record batch (replacement), legal
  in the Arrow *stream* format but rejected by the random-access file
  reader. An Arrow file is magic+padding followed by an embedded
  stream, so we read the embedded stream at offset 8.
- nanosecond time64 must be cast to int64 at the Arrow level (datetime
  conversion would silently truncate to micros).

The decoded batches feed Spark as ONE pyarrow Table via
``spark.createDataFrame(arrow_table, schema=...)``, where the schema is
the Arrow-to-Spark mapping with each column's ``knime.*`` metadata on its
field — Arrow-native transfer, no per-row Python loop anywhere on the
read path and no projection per annotated column; Spark then
distributes the rows across partitions as usual.
"""

from __future__ import annotations

import struct
from collections.abc import Sequence
from typing import Any

from pyspark.sql import SparkSession
from pyspark.sql import types as T

from knime_core_columnar_spark.table import ColumnarTable

ARROW_MAGIC = b"ARROW1"

#: Footer/schema metadata keys written by the reference
#: (ArrowReaderWriterUtils.java:79-103).
KNIME_CHUNK_SIZE_KEY = "KNIME:basic:chunkSize"
KNIME_FACTORY_VERSIONS_KEY = "KNIME:basic:factoryVersions"
KNIME_BATCH_BOUNDARIES_KEY = "KNIME:basic:batchBoundaries"
KNIME_LZ4_BLOCK_KEY = "KNIME:basic:usingLz4Block"

EXT_NAME_KEY = b"ARROW:extension:name"
EXT_META_KEY = b"ARROW:extension:metadata"
LOGICAL_TYPE_EXT = "knime.logical_type"
STRUCT_DICT_EXT = "knime.struct_dict_encoded"

_ZDT_FIELDS = frozenset({"epochDay", "nanoOfDay", "zoneOffset", "zoneId"})

_ZDT_SPARK_TYPE = T.StructType(
    [
        T.StructField("epoch_day", T.LongType()),
        T.StructField("nano_of_day", T.LongType()),
        T.StructField("zone_offset_seconds", T.IntegerType()),
        T.StructField("zone_id", T.StringType()),
    ]
)


# ---------------------------------------------------------------------------
# Legacy LZ4-block decompression (Lz4BlockCompressionCodec.java)
# ---------------------------------------------------------------------------


def _lz4_block_decompress(src: bytes, expected_len: int) -> bytes:
    """Pure-Python decoder for the public raw LZ4 *block* format
    (sequences of [token][literals][offset][match]); the reference
    decodes the same bytes with LZ4_decompress_safe
    (Lz4BlockCompressionCodec.java:95)."""
    dst = bytearray()
    i, n = 0, len(src)
    while i < n:
        token = src[i]
        i += 1
        lit_len = token >> 4
        if lit_len == 15:
            while True:
                b = src[i]
                i += 1
                lit_len += b
                if b != 255:
                    break
        dst += src[i : i + lit_len]
        i += lit_len
        if i >= n:
            break  # final sequence carries literals only
        offset = src[i] | (src[i + 1] << 8)
        i += 2
        if offset == 0:
            raise ValueError("corrupt LZ4 block: zero match offset")
        match_len = token & 0x0F
        if match_len == 15:
            while True:
                b = src[i]
                i += 1
                match_len += b
                if b != 255:
                    break
        match_len += 4  # minimum match length
        start = len(dst) - offset
        if start < 0:
            raise ValueError("corrupt LZ4 block: offset before window start")
        if offset >= match_len:
            dst += dst[start : start + match_len]
        else:  # overlapping match: byte-by-byte (RLE-style back-reference)
            for j in range(match_len):
                dst.append(dst[start + j])
    if len(dst) != expected_len:
        raise ValueError(
            f"LZ4 block decompressed to {len(dst)} bytes, expected {expected_len}"
        )
    return bytes(dst)


class _FlatTable:
    """Minimal flatbuffer table accessor (read + in-place patch)."""

    def __init__(self, buf: bytearray, pos: int):
        self.buf = buf
        self.pos = pos
        soff = struct.unpack_from("<i", buf, pos)[0]
        self.vt = pos - soff
        vtsize = struct.unpack_from("<H", buf, self.vt)[0]
        nf = (vtsize - 4) // 2
        self.slots = list(struct.unpack_from(f"<{nf}H", buf, self.vt + 4))

    def field_off(self, fid: int) -> int:
        """Offset of field ``fid`` relative to the table, 0 if absent."""
        return self.slots[fid] if fid < len(self.slots) else 0

    def i8(self, fid: int, default: int = 0) -> int:
        o = self.field_off(fid)
        return self.buf[self.pos + o] if o else default

    def i64(self, fid: int, default: int = 0) -> int:
        o = self.field_off(fid)
        return struct.unpack_from("<q", self.buf, self.pos + o)[0] if o else default

    def table(self, fid: int) -> "_FlatTable | None":
        o = self.field_off(fid)
        if not o:
            return None
        p = self.pos + o
        rel = struct.unpack_from("<I", self.buf, p)[0]
        return _FlatTable(self.buf, p + rel)

    def vector(self, fid: int) -> tuple[int, int]:
        """(element-0 position, length) of a vector field, (0, 0) if absent."""
        o = self.field_off(fid)
        if not o:
            return 0, 0
        p = self.pos + o
        rel = struct.unpack_from("<I", self.buf, p)[0]
        vpos = p + rel
        n = struct.unpack_from("<i", self.buf, vpos)[0]
        return vpos + 4, n

    def clear_field(self, fid: int) -> None:
        """Mark field ``fid`` absent by zeroing its vtable slot."""
        if fid < len(self.slots) and self.slots[fid]:
            struct.pack_into("<H", self.buf, self.vt + 4 + 2 * fid, 0)
            self.slots[fid] = 0


def _decompress_lz4_block_stream(data: bytes) -> bytes:
    """Rewrite the embedded IPC stream of a ``usingLz4Block=true`` file
    into an equivalent UNCOMPRESSED stream pyarrow can read.

    Per message: decompress every body buffer (8-byte-LE uncompressed
    length, -1 ⇒ raw), re-pack them 8-byte aligned, patch each
    flatbuffer ``Buffer{offset,length}`` struct and the Message
    ``bodyLength`` in place (sizes of the metadata never change), and
    clear the RecordBatch ``compression`` field from its vtable.
    """
    out = bytearray()
    off = 0
    n = len(data)
    while off + 8 <= n:
        cont, mlen = struct.unpack_from("<iI", data, off)
        if cont != -1:
            raise ValueError("unsupported pre-0.15 IPC framing (no continuation)")
        if mlen == 0:  # end-of-stream marker
            out += data[off : off + 8]
            break
        meta = bytearray(data[off + 8 : off + 8 + mlen])
        root = struct.unpack_from("<I", meta, 0)[0]
        msg = _FlatTable(meta, root)
        header_type = msg.i8(1)  # MessageHeader union: 1=Schema 2=Dict 3=Batch
        body_len = msg.i64(3)
        body = data[off + 8 + mlen : off + 8 + mlen + body_len]

        rb = None
        if header_type == 3:  # RecordBatch
            rb = msg.table(2)
        elif header_type == 2:  # DictionaryBatch -> nested RecordBatch (field 1)
            db = msg.table(2)
            rb = db.table(1) if db is not None else None

        if rb is not None and body_len:
            new_body = bytearray()
            bpos, nbuf = rb.vector(2)  # RecordBatch.buffers
            for i in range(nbuf):
                boff, blen = struct.unpack_from("<qq", meta, bpos + 16 * i)
                pad = (-len(new_body)) % 8
                new_body += b"\x00" * pad
                new_off = len(new_body)
                if blen == 0:
                    new_len = 0
                else:
                    prefix = struct.unpack_from("<q", body, boff)[0]
                    payload = bytes(body[boff + 8 : boff + blen])
                    if prefix == -1:  # stored uncompressed
                        raw = payload
                    else:
                        raw = _lz4_block_decompress(payload, prefix)
                    new_body += raw
                    new_len = len(raw)
                struct.pack_into("<qq", meta, bpos + 16 * i, new_off, new_len)
            new_body += b"\x00" * ((-len(new_body)) % 8)
            rb.clear_field(3)  # RecordBatch.compression
            # Message.bodyLength (field 3) is inline — patch in place.
            o = msg.field_off(3)
            struct.pack_into("<q", meta, msg.pos + o, len(new_body))
            out += struct.pack("<iI", -1, mlen) + meta + new_body
        else:
            out += data[off : off + 8 + mlen + body_len]
        off += 8 + mlen + body_len
    return bytes(out)


# ---------------------------------------------------------------------------
# KNIME envelope / logical-type decoding
# ---------------------------------------------------------------------------


def read_knime_metadata(path: str) -> dict[str, str]:
    """Decode the KNIME footer/schema metadata of an Arrow file."""
    import pyarrow as pa
    import pyarrow.ipc

    with pa.memory_map(path) as src:
        meta = pa.ipc.open_file(src).schema.metadata or {}
    return {
        k.decode(): v.decode()
        for k, v in meta.items()
        if k.decode().startswith("KNIME:")
    }


def _is_zdt(t) -> bool:
    import pyarrow as pa

    return (
        pa.types.is_struct(t)
        and {t.field(i).name for i in range(t.num_fields)} == _ZDT_FIELDS
    )


def _field_ext_name(field) -> tuple[str | None, str | None]:
    """(extension name, serialized payload) from Arrow field metadata."""
    meta = field.metadata or {}
    name = meta.get(EXT_NAME_KEY)
    if name is None:
        return None, None
    payload = meta.get(EXT_META_KEY)
    return name.decode(), payload.decode() if payload is not None else None


def _decode_zone_id(b: bytes | None) -> str | None:
    """zoneId payload = 4-byte little-endian length + UTF-8 bytes."""
    if b is None:
        return None
    n = int.from_bytes(b[:4], "little")
    return b[4 : 4 + n].decode("utf-8")


def _decode_zone_id_array(arr):
    """zoneId column → utf8 array. KNIME dictionary-encodes zone ids, so
    only the (tiny, distinct-values) dictionary is decoded in Python and
    the per-row indices stay vectorized; a plain column (not observed in
    any golden file) falls back to a full decode."""
    import pyarrow as pa

    if pa.types.is_dictionary(arr.type):
        dic = pa.array(
            [_decode_zone_id(v) for v in arr.dictionary.to_pylist()], pa.string()
        )
        return pa.DictionaryArray.from_arrays(arr.indices, dic).dictionary_decode()
    return pa.array([_decode_zone_id(v) for v in arr.to_pylist()], pa.string())


def _decode_struct_dict(arr, field=None):
    """Decode a ``knime.struct_dict_encoded`` storage struct to its
    logical values (AbstractOnHeapArrowDictEncodedData.java:290: value
    of row i = dictEntry[first occurrence of dictKey[i]]). Vectorized:
    numpy first-occurrence LUT + Arrow take."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    valid = np.asarray(arr.is_valid())
    keys = np.asarray(pc.fill_null(arr.field(0).cast(pa.int64()), 0))
    idx = np.arange(len(keys), dtype=np.int64)
    vk, vi = keys[valid], idx[valid]
    if len(vk):
        uniq, first_pos = np.unique(vk, return_index=True)  # first occurrences
        lut = vi[first_pos][np.searchsorted(uniq, vk)]
    else:
        lut = vi
    take_idx = np.zeros(len(keys), dtype=np.int64)
    take_idx[valid] = lut
    take = pa.array(take_idx, mask=~valid)
    entry_field = (
        field.type.field(1) if field is not None and hasattr(field.type, "field")
        else None
    )
    values = arr.field(1).take(take)
    return _convert_arrow(values, entry_field)


def _convert_arrow(arr, field=None):
    """Arrow array → Arrow array of the surfaced type (all conversions at
    the Arrow/numpy level — no per-row Python): dictionary decode, legacy
    ZonedDateTime struct, struct-dict-encoding, nanosecond time64 →
    int64, recursive struct/list children."""
    import pyarrow as pa

    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    if field is not None:
        ext_name, _ = _field_ext_name(field)
        if ext_name == STRUCT_DICT_EXT:
            return _decode_struct_dict(arr, field)
    if pa.types.is_dictionary(arr.type):
        return _convert_arrow(arr.dictionary_decode(), None)
    t = arr.type
    if _is_zdt(t):
        mask = arr.is_valid()
        out = pa.StructArray.from_arrays(
            [
                arr.field("epochDay").cast(pa.int64()),
                arr.field("nanoOfDay").cast(pa.int64()),
                arr.field("zoneOffset").cast(pa.int32()),
                _decode_zone_id_array(arr.field("zoneId")),
            ],
            names=["epoch_day", "nano_of_day", "zone_offset_seconds", "zone_id"],
            mask=pa.compute.invert(mask),
        )
        return out
    if pa.types.is_struct(t):
        children = [
            _convert_arrow(arr.field(i), t.field(i)) for i in range(t.num_fields)
        ]
        return pa.StructArray.from_arrays(
            children,
            names=[t.field(i).name for i in range(t.num_fields)],
            mask=pa.compute.invert(arr.is_valid()),
        )
    if pa.types.is_list(t) or pa.types.is_large_list(t):
        values = _convert_arrow(arr.values, t.value_field)
        cls = pa.LargeListArray if pa.types.is_large_list(t) else pa.ListArray
        return cls.from_arrays(
            arr.offsets, values, mask=pa.compute.invert(arr.is_valid())
        )
    if pa.types.is_time(t):
        return arr.cast(pa.int64())  # ns-since-midnight, lossless
    return arr


def _contains_zdt(t) -> bool:
    import pyarrow as pa

    if _is_zdt(t):
        return True
    if pa.types.is_dictionary(t):
        return _contains_zdt(t.value_type)
    if pa.types.is_struct(t):
        return any(_contains_zdt(t.field(i).type) for i in range(t.num_fields))
    if pa.types.is_list(t) or pa.types.is_large_list(t):
        return _contains_zdt(t.value_type)
    return False


def read_knime_arrow(
    spark: SparkSession,
    path: str,
    key_columns: Sequence[str] | None = None,
) -> ColumnarTable:
    """Read a KNIME-written Arrow IPC file into a ColumnarTable with the
    logical-type mapping applied (see module docstring).

    The file is memory-mapped, not copied, and the Spark schema is built
    once with every column's ``knime.*`` metadata on its field, so the
    returned frame is a single scan of the decoded Arrow table."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.ipc
    from pyspark.sql.pandas.types import from_arrow_schema
    from pyspark.sql.utils import is_timestamp_ntz_preferred

    knime_meta = read_knime_metadata(path)

    # The file is memory-mapped once; the embedded stream is a zero-copy
    # slice of it. Only the legacy LZ4-block rewrite needs it as bytes.
    with pa.memory_map(path) as src:
        buf = src.read_buffer()
    if buf.slice(0, len(ARROW_MAGIC)).to_pybytes() != ARROW_MAGIC:
        raise ValueError(f"{path}: not an Arrow file (bad magic)")
    # Embedded-stream read (offset 8 = magic + padding): the stream
    # reader accepts KNIME's per-batch dictionary replacement, which the
    # random-access file reader rejects.
    stream = buf.slice(8)
    if knime_meta.get(KNIME_LZ4_BLOCK_KEY) == "true":
        stream = pa.py_buffer(_decompress_lz4_block_stream(stream.to_pybytes()))
    reader = pa.ipc.open_stream(stream)
    batches = list(reader)
    if not batches:
        raise ValueError(f"{path}: no record batches")
    arrow_schema = batches[0].schema

    # Per-batch Arrow-level decode (dictionaries are per-batch in KNIME
    # files, so decode BEFORE concatenating), then one Table to Spark.
    converted: list[list[pa.Array]] = []
    for b in batches:
        converted.append(
            [
                _convert_arrow(b.column(i), arrow_schema.field(i))
                for i in range(b.num_columns)
            ]
        )
    names = [f.name for f in arrow_schema]
    col_arrays = [
        pa.chunked_array([batch[i] for batch in converted])
        for i in range(len(names))
    ]
    arrow_table = pa.table(col_arrays, names=names)

    # Column metadata for the Spark schema (logical types, factory
    # versions), carried by the schema createDataFrame is given.
    factory_versions = knime_meta.get(KNIME_FACTORY_VERSIONS_KEY, "").split(",")
    col_meta: dict[str, dict[str, Any]] = {}
    for i, f_ in enumerate(arrow_schema):
        ext_name, ext_payload = _field_ext_name(f_)
        meta: dict[str, Any] = {}
        if ext_name == LOGICAL_TYPE_EXT and ext_payload:
            meta["knime.logical_type"] = ext_payload
        elif ext_name == STRUCT_DICT_EXT:
            meta["knime.struct_dict_encoded"] = True
        elif _is_zdt(f_.type) or _contains_zdt(f_.type):
            meta["knime.logical_type"] = "ZonedDateTime"
            meta["knime.legacy"] = True
        if i < len(factory_versions) and factory_versions[i]:
            meta["knime.factory_version"] = factory_versions[i]
        if meta:
            col_meta[f_.name] = meta

    from knime_core_columnar_spark.schema import ROW_KEY

    if key_columns is None and ROW_KEY not in names:
        # Reference row keys are cursor-assigned Row0..RowN-1
        # (ColumnarRowWriteCursor.java:102) — generated vectorized from
        # the row index; the file's row order is authoritative here. A
        # file that already carries the RowID column (e.g. our own
        # write_knime_arrow roundtrip) keeps it as-is.
        import numpy as np

        n = arrow_table.num_rows
        row_ids = pc.binary_join_element_wise(
            pa.repeat("Row", n),
            pc.cast(pa.array(np.arange(n, dtype=np.int64)), pa.string()),
            "",
        )
        arrow_table = arrow_table.add_column(0, ROW_KEY, row_ids)

    # The Arrow-to-Spark type mapping createDataFrame applies when it is
    # given no schema, plus each column's metadata: one plan node, where
    # a projection per annotated column would stack up.
    spark_schema = from_arrow_schema(
        arrow_table.schema, prefer_timestamp_ntz=is_timestamp_ntz_preferred()
    )
    df = spark.createDataFrame(
        arrow_table,
        schema=T.StructType([
            T.StructField(f.name, f.dataType, f.nullable, col_meta.get(f.name))
            for f in spark_schema.fields
        ]),
    )
    table = ColumnarTable.from_dataframe(df, key_columns=key_columns)
    table.knime_metadata = knime_meta
    return table


def _struct_dict_encode_array(arr):
    """Per-batch struct-dict encoding of one String/VarBinary array —
    the storage layout the reference writes when dict encoding is on
    (AbstractOnHeapArrowDictEncodedData.java:89-91: child "0" = dict
    key, child "1" = dict entry; keys ascend in first-appearance order,
    DictKeys.java:94-146, and the entry is populated ONLY at the key's
    first occurrence — later rows carry the key alone). Vectorized:
    Arrow dictionary_encode assigns first-appearance-ordered indices;
    numpy finds first-occurrence rows; no per-row Python."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    n = len(arr)
    valid = np.asarray(arr.is_valid())
    enc = pc.dictionary_encode(arr)
    idx = np.asarray(pc.fill_null(enc.indices.cast(pa.int64()), 0))
    vi = np.arange(n, dtype=np.int64)[valid]
    vk = idx[valid]
    _, first_pos = np.unique(vk, return_index=True)
    is_first = np.zeros(n, dtype=bool)
    is_first[vi[first_pos]] = True
    entries = pc.if_else(pa.array(is_first), arr, pa.nulls(n, arr.type))
    # LONG_KEY storage (uint64) — the widest ascending generator; the
    # extension type accepts u8/u32/u64 (StructDictEncodedExtensionType
    # .java:101-111) and u64 never exhausts keys mid-batch
    keys = pa.array(idx.astype(np.uint64), mask=~valid)
    return pa.StructArray.from_arrays(
        [keys, entries], names=["0", "1"],
        mask=pa.array(~valid) if not valid.all() else None,
    )


def _struct_dict_field(name: str, value_type) -> "Any":
    import pyarrow as pa

    storage = pa.struct(
        [pa.field("0", pa.uint64()), pa.field("1", value_type)]
    )
    return pa.field(
        name, storage, nullable=True,
        metadata={EXT_NAME_KEY: STRUCT_DICT_EXT.encode(), EXT_META_KEY: b""},
    )


def write_knime_arrow(
    table: ColumnarTable,
    path: str,
    chunk_size: int = 28_000,
    compression: str | None = "lz4",
    dict_encode: bool = True,
) -> int:
    """Write a single Arrow IPC file with the KNIME envelope — the
    footer/schema metadata keys the reference stamps on its stores
    (ArrowReaderWriterUtils.java:79-103: chunkSize + factoryVersions),
    so the file round-trips through ``read_knime_arrow`` and KNIME's own
    reader finds the batch geometry it expects. Record batches are cut
    at ``chunk_size`` rows (the reference's default batch length is
    derived from its 64 MiB heap budget; 28k rows is its common
    observed chunk). Driver-tier single file — the KNIME store format
    is a single-file artifact by definition; use write_arrow_ipc for
    distributed many-file export. Returns the row count written.

    ``compression="lz4"`` (default) emits standard Arrow IPC
    LZ4-frame body compression — the reference's own write default
    (Lz4FrameCompressionCodec.java, wired as the store codec in
    ArrowColumnStoreFactory.java:98-112), so round-trip files match
    KNIME's compressed size instead of the 3-5× uncompressed
    footprint. KNIME's modern reader and ``read_knime_arrow`` both
    understand it natively (only the LEGACY LZ4-*block* codec needs
    the custom decompressor above). ``compression=None`` writes
    uncompressed (readable by every KNIME version).

    ``dict_encode=True`` (default, matching the reference's store
    builder default — DefaultColumnarBatchStore.java:282-287) writes
    String/VarBinary DATA columns as per-batch
    ``knime.struct_dict_encoded`` storage structs (child "0" = uint64
    ascending dict key, child "1" = value at its first occurrence
    only). The RowID column stays plain: its values are unique by
    contract, so dict encoding it would be pure overhead."""
    import pyarrow as pa
    import pyarrow.ipc

    from pyspark.sql.pandas.types import to_arrow_schema

    from knime_core_columnar_spark.schema import ROW_KEY

    df = table.df
    n_cols = len(to_arrow_schema(df.schema))
    # combine first: toArrow() chunks at Spark partition boundaries,
    # which would leak into the batch geometry instead of chunk_size
    arrow_table = df.toArrow().combine_chunks()
    schema = arrow_table.schema
    dict_cols = [
        f.name
        for f in schema
        if dict_encode
        and f.name != ROW_KEY
        and (pa.types.is_string(f.type) or pa.types.is_large_string(f.type)
             or pa.types.is_binary(f.type) or pa.types.is_large_binary(f.type))
        and not (f.metadata or {}).get(EXT_NAME_KEY)
    ]
    out_fields = [
        _struct_dict_field(f.name, f.type) if f.name in dict_cols else f
        for f in schema
    ]
    out_schema = pa.schema(out_fields).with_metadata(
        {
            KNIME_CHUNK_SIZE_KEY: str(chunk_size),
            KNIME_FACTORY_VERSIONS_KEY: ",".join(["0"] * n_cols),
        }
    )
    total = arrow_table.num_rows
    opts = pa.ipc.IpcWriteOptions(compression=compression)
    with pa.OSFile(path, "wb") as sink:
        with pa.ipc.new_file(sink, out_schema, options=opts) as writer:
            for batch in arrow_table.to_batches(max_chunksize=chunk_size):
                if dict_cols:
                    # per-batch dictionaries (keys restart each batch),
                    # exactly the reference's replacement-dictionary
                    # geometry
                    cols = [
                        _struct_dict_encode_array(batch.column(i))
                        if schema.field(i).name in dict_cols
                        else batch.column(i)
                        for i in range(batch.num_columns)
                    ]
                    batch = pa.RecordBatch.from_arrays(
                        cols, schema=out_schema.remove_metadata()
                    )
                writer.write_batch(batch)
    return total
