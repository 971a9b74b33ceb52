"""Schema conventions: RowID column, logical-type metadata, type promotion.

Mirrors the reference's schema model (SURVEY.md §1):

- RowID is a string column at index 0 — ``ColumnarVirtualTable.java:577-580``
  ("schema with RowKey at column 0"), ``ColumnarTableBackend.java:311``.
  Here: ``ROW_KEY = "_row_key"`` (StringType, non-null, first column).
- Logical types ride as Arrow extension metadata ``knime.logical_type``
  (``LogicalTypeExtensionType.java:93``). Here: ``StructField.metadata``
  under the same key names, persisted into Parquet field metadata.
- Column domains (min/max/nominal-set, capped) are write-time statistics
  (``DomainWritable.java:71``). Here: metadata keys ``knime.domain.*``
  populated by :func:`knime_core_columnar_spark.operators.domain.compute_domains`.
- Concatenate merges differing column types through an explicit promotion
  lattice (the reference merges KNIME ``DataType``s —
  ``ColumnarConcatenater.java:217-235``, ``ColumnarVirtualTable.java:372-384``).
- The reference never infers a schema: it is declared and read back from
  the store. Here: :func:`parquet_schema` answers "what is this path's
  schema" from the schema Spark's Parquet writer stamps into every footer,
  and :func:`read_parquet` reads with it, so reading back a table Spark
  wrote fires no schema-inference job.
"""

from __future__ import annotations

import json
import os
import re
from typing import TYPE_CHECKING

from pyspark.sql import types as T

if TYPE_CHECKING:
    from pyspark.sql import DataFrame, SparkSession

ROW_KEY = "_row_key"

LOGICAL_TYPE_KEY = "knime.logical_type"
DOMAIN_MIN_KEY = "knime.domain.min"
DOMAIN_MAX_KEY = "knime.domain.max"
DOMAIN_VALUES_KEY = "knime.domain.values"

#: Max nominal values tracked per column domain (DataContainerSettings
#: default, consumed by ColumnarNominalDomainCalculator.java:92-113).
DEFAULT_MAX_NOMINAL_VALUES = 60

# --- numeric promotion lattice ------------------------------------------
# byte < short < int < long ; float < double ; long ∨ float = double
# (the reference's value-level UPCAST set — TableCasterFactory.java:97-106 —
# covers exactly the widenings that lose no information).
_INT_RANK = {
    T.ByteType(): 1,
    T.ShortType(): 2,
    T.IntegerType(): 3,
    T.LongType(): 4,
}
_FLOAT_RANK = {T.FloatType(): 1, T.DoubleType(): 2}


def promote_types(a: T.DataType, b: T.DataType, allow_varying: bool = True) -> T.DataType:
    """Least common supertype of two column types for union-by-name.

    Numeric types widen (int→long→double); identical types pass through;
    with ``allow_varying`` any remaining mismatch falls back to string
    (KNIME's common-ancestor fallback); otherwise raise.
    """
    if a == b:
        return a
    if isinstance(a, T.NullType):
        return b
    if isinstance(b, T.NullType):
        return a
    ia, ib = _INT_RANK.get(a), _INT_RANK.get(b)
    fa, fb = _FLOAT_RANK.get(a), _FLOAT_RANK.get(b)
    if ia is not None and ib is not None:
        return a if ia >= ib else b
    if fa is not None and fb is not None:
        return a if fa >= fb else b
    if (ia is not None and fb is not None) or (fa is not None and ib is not None):
        # integer ∨ float: float only if the integer fits losslessly;
        # int/long + float/double → double is the safe upper bound.
        int_rank = ia if ia is not None else ib
        flt = a if fa is not None else b
        if int_rank <= 3 and isinstance(flt, T.DoubleType):
            return T.DoubleType()
        return T.DoubleType()
    if isinstance(a, T.DecimalType) and isinstance(b, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
        return a
    if isinstance(b, T.DecimalType) and isinstance(a, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
        return b
    if isinstance(a, T.ArrayType) and isinstance(b, T.ArrayType):
        return T.ArrayType(
            promote_types(a.elementType, b.elementType, allow_varying),
            a.containsNull or b.containsNull,
        )
    if allow_varying:
        return T.StringType()
    raise TypeError(f"cannot merge column types {a} and {b} (allow_varying=False)")


def merge_schemas(
    schemas: list[T.StructType], allow_varying: bool = True
) -> T.StructType:
    """Union-by-name schema merge: first-seen column order, promoted types,
    columns absent from some inputs become nullable (null-filled on union).

    Mirrors ``ColumnarConcatenater`` union-schema merge
    (``ColumnarConcatenater.java:217-235``) + missing-column insertion
    (``:369-394``).
    """
    order: list[str] = []
    fields: dict[str, T.StructField] = {}
    seen_count: dict[str, int] = {}
    for schema in schemas:
        for f in schema.fields:
            if f.name not in fields:
                order.append(f.name)
                fields[f.name] = T.StructField(f.name, f.dataType, f.nullable, f.metadata)
                seen_count[f.name] = 1
            else:
                prev = fields[f.name]
                merged = promote_types(prev.dataType, f.dataType, allow_varying)
                fields[f.name] = T.StructField(
                    f.name, merged, prev.nullable or f.nullable, prev.metadata
                )
                seen_count[f.name] += 1
    n = len(schemas)
    out = []
    for name in order:
        f = fields[name]
        nullable = f.nullable or seen_count[name] < n
        out.append(T.StructField(name, f.dataType, nullable, f.metadata))
    return T.StructType(out)


# --- Parquet schema resolution --------------------------------------------

#: Footer key under which Spark's Parquet writer stores the written
#: frame's schema as JSON (ParquetReadSupport.SPARK_METADATA_KEY).
SPARK_ROW_METADATA_KEY = b"org.apache.spark.sql.parquet.row.metadata"

# a URI scheme ("hdfs:", "s3a:", "file:") or a Hadoop glob character
_NOT_A_LOCAL_PATH = re.compile(r"^[A-Za-z][A-Za-z0-9+.-]*:|[*?\[\]{}\\]")


def _hidden(name: str) -> bool:
    """Names Spark's file listing skips (HadoopFSUtils.shouldFilterOutPathName)."""
    return ((name.startswith("_") and "=" not in name)
            or name.startswith(".") or name.endswith("._COPYING_"))


def _first_data_file(path: str) -> str | None:
    """The file Spark's Parquet schema inference reads when it does not
    merge schemas: the first data file in sorted path order. None where
    that choice is not this simple: a URI or glob, a missing path, a
    directory with summary files (``_metadata``, ``_common_metadata``),
    ``key=value`` partitions or any other subdirectory."""
    if _NOT_A_LOCAL_PATH.search(path):
        return None
    if os.path.isfile(path):
        return path
    if not os.path.isdir(path):
        return None
    data = []
    with os.scandir(path) as entries:
        for e in entries:
            if e.name.startswith(("_metadata", "_common_metadata")):
                return None
            if _hidden(e.name):
                continue
            if e.is_dir():
                return None
            data.append(e.name)
    return os.path.join(path, min(data)) if data else None


def _as_nullable(t: T.DataType) -> T.DataType:
    """Spark's ``DataType.asNullable``: a file source reads every column,
    element and map value as nullable."""
    if isinstance(t, T.StructType):
        return T.StructType([
            T.StructField(f.name, _as_nullable(f.dataType), True, f.metadata)
            for f in t.fields
        ])
    if isinstance(t, T.ArrayType):
        return T.ArrayType(_as_nullable(t.elementType), True)
    if isinstance(t, T.MapType):
        return T.MapType(_as_nullable(t.keyType), _as_nullable(t.valueType), True)
    return t


def _footer_schema(spark: "SparkSession", path: str) -> T.StructType | None:
    """The schema Spark's inference would return for ``path``, read from
    the footer stamp of the file that inference reads; None when Spark
    has to answer (no stamp, see :func:`_first_data_file`, or
    ``spark.sql.parquet.mergeSchema`` on)."""
    first = _first_data_file(path)
    if first is None:
        return None
    import pyarrow as pa
    import pyarrow.parquet as pq

    try:
        stamp = (pq.read_metadata(first).metadata or {}).get(SPARK_ROW_METADATA_KEY)
        schema = T.StructType.fromJson(json.loads(stamp)) if stamp else None
    except (OSError, ValueError, KeyError, TypeError, pa.ArrowException):
        return None
    if schema is None or spark.conf.get(
            "spark.sql.parquet.mergeSchema", "false").lower() == "true":
        return None
    return _as_nullable(schema)


def parquet_schema(spark: "SparkSession", path: str) -> T.StructType:
    """The schema ``spark.read.parquet(path)`` has: the footer stamp when
    Spark wrote the file it would infer from, else Spark's inference
    (one Spark job)."""
    stamped = _footer_schema(spark, path)
    return stamped if stamped is not None else spark.read.parquet(path).schema


def read_parquet(spark: "SparkSession", path: str) -> "DataFrame":
    """``spark.read.parquet(path)`` without the schema-inference job when
    :func:`parquet_schema` can answer from the footer stamp; otherwise
    exactly that read."""
    schema = _footer_schema(spark, path)
    reader = spark.read if schema is None else spark.read.schema(schema)
    return reader.parquet(path)
