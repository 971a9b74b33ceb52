"""Query catalog: every implemented operator exposed as a (spark, sf_dir) →
DataFrame callable plus a DuckDB-equivalent ANSI-SQL oracle.

This is the correctness surface for SURVEY.md §2 — the driver executes each
``QUERIES[name]`` and the matching ``ORACLES[name]`` side by side and
compares row count + schema + order-insensitive value hash.

Determinism rules (doubles are NOT bit-stable under reordered reduction):
- exact sums: cast to decimal before SUM, cast the exact result to double;
- averages: exact-decimal sum cast to double, then IEEE double division;
- per-row double arithmetic is deterministic and fine;
- no double→int casts (Spark truncates, DuckDB rounds), no double→string;
- every computed column aliased identically on both sides.
"""

from __future__ import annotations

from collections.abc import Callable
from typing import Dict, NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

QUERIES: Dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLES: Dict[str, str] = {}


def query(name: str, oracle: str | None = None):
    """Register the decorated callable as catalog query ``name`` (and
    ``oracle`` as its DuckDB SQL). A name registered twice raises
    ``ValueError``: which definition won would otherwise depend on the
    order the family modules are imported in."""

    def deco(fn):
        if name in QUERIES:
            raise ValueError(f"catalog query {name!r} is already registered")
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


_PKG_SHIPPED: set[int] = set()


def _ensure_pkg_on_executors(spark: SparkSession) -> None:
    """Ship this package to executor python workers via addPyFile.

    Queries that use pandas UDFs / mapInPandas reference module-level
    kernels; cloudpickle serializes those BY REFERENCE when the module is
    importable on the driver, so executors must be able to import the
    package too. When the harness runs from a foreign cwd (driver-style
    file-path import), workers would otherwise fail with
    ModuleNotFoundError. A zip of the package added per-SparkContext
    fixes this everywhere (local and cluster mode alike)."""
    key = id(spark.sparkContext)
    if key in _PKG_SHIPPED:
        return
    import os
    import tempfile
    import zipfile

    # the TOP-LEVEL package dir (this file lives in catalog/)
    pkg_dir = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    zpath = os.path.join(tempfile.gettempdir(), "knime_core_columnar_spark_pkg.zip")
    tmp = zpath + f".{os.getpid()}.part"
    with zipfile.ZipFile(tmp, "w") as z:
        for root, _dirs, files in os.walk(pkg_dir):
            for f in files:
                if f.endswith(".py"):
                    full = os.path.join(root, f)
                    rel = os.path.relpath(full, os.path.dirname(pkg_dir))
                    z.write(full, rel)
    os.replace(tmp, zpath)
    spark.sparkContext.addPyFile(zpath)
    _PKG_SHIPPED.add(key)


class TableMeta(NamedTuple):
    """What the driver knows about one stored table without scanning it:
    the Spark schema, the parquet row-group count (the upper bound on a
    scan's natural task parallelism — a row group is parquet's minimum
    read unit), the exact row count from the footers, and the on-disk
    byte size. Fields are None when the path cannot be stat'ed locally."""

    schema: StructType | None
    row_groups: int | None
    rows: int | None
    bytes: int | None


_UNKNOWN_TABLE = TableMeta(None, None, None, None)

#: path → (version, TableMeta), the version from :func:`_table_version`,
#: so a cached schema never outlives the data it describes. Metadata
#: only: no results are cached.
_TABLE_META: dict[str, tuple[tuple, TableMeta]] = {}


def _table_version(path: str) -> tuple | None:
    """(file, mtime_ns, size) of the file, or of every file under the
    directory, at ``path``; None when it cannot be stat'ed. Rewriting any
    file in place changes the version even though a directory's own
    mtime does not change."""
    import os

    try:
        if os.path.isdir(path):
            files = sorted(
                os.path.join(r, f) for r, _d, fs in os.walk(path) for f in fs
            )
        else:
            files = [path]
        stats = [os.stat(f) for f in files]
    except OSError:
        return None
    return tuple(
        (f, st.st_mtime_ns, st.st_size) for f, st in zip(files, stats)
    )


def _table_meta(spark: SparkSession, sf_dir: str, name: str) -> TableMeta:
    """Metadata of the catalog table ``{sf_dir}/{name}.parquet`` (a file
    or a directory), built once per table version from one pass over the
    parquet footers plus one Spark schema inference, then served from
    :data:`_TABLE_META`. A miss costs one Spark job; a hit costs only
    the stat calls that form the version."""
    path = f"{sf_dir}/{name}.parquet"
    version = _table_version(path)
    if version is None:
        return _UNKNOWN_TABLE
    hit = _TABLE_META.get(path)
    if hit is not None and hit[0] == version:
        return hit[1]
    import pyarrow as pa
    import pyarrow.dataset as ds

    try:
        footers = [
            f.metadata
            for f in ds.dataset(path, format="parquet").get_fragments()
        ]
    except (OSError, pa.ArrowException):
        return _UNKNOWN_TABLE
    meta = TableMeta(
        schema=spark.read.parquet(path).schema,
        row_groups=sum(m.num_row_groups for m in footers),
        rows=sum(m.num_rows for m in footers),
        bytes=sum(size for _f, _mtime, size in version),
    )
    _TABLE_META[path] = (version, meta)
    return meta


def _widen_scan(spark: SparkSession, df: DataFrame, meta: TableMeta) -> DataFrame:
    """Scale-ADAPTIVE scan parallelization (guide §2.5, input skew:
    "one huge unsplittable file ... repartition immediately after the
    read"). The sandbox testdata ships ONE row group per table, so
    every scan — and with it every scan-stage kernel: partial
    aggregations, shingle explodes, Arrow batches — runs as a single
    task however many cores the host has. When the scan's natural
    parallelism (row-group count) is under a quarter of the cluster's,
    round-robin repartition to defaultParallelism right after the
    read: one shuffle of an input that is small-or-serial either way
    buys full-width downstream stages. At production scale the
    condition is false (a 100 TB table has tens of thousands of row
    groups) and this is a NO-OP — nothing here is tuned to local[32];
    the threshold derives from the session's own parallelism."""
    # tiny dimensions (region/nation/supplier) stay as-is: the exchange
    # would cost more than the serial scan it parallelizes
    if meta.bytes is None or meta.bytes < 512 * 1024:
        return df
    par = spark.sparkContext.defaultParallelism
    if meta.row_groups < max(2, par // 4):
        return df.repartition(par)
    return df


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    _ensure_pkg_on_executors(spark)
    # Runtime-settable confs forced here instead of relying on session
    # defaults — the harness builds its own SparkSession without our
    # session.py. UTC makes every ntz<->instant cast (unix_micros etc.)
    # timezone-independent, matching the timezone-free DuckDB oracle.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    if name == "events":
        # events.parquet carries TIMESTAMP(NANOS), which vanilla Spark 4
        # refuses (PARQUET_TYPE_ILLEGAL).
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    path = f"{sf_dir}/{name}.parquet"
    schema = _table_meta(spark, sf_dir, name).schema
    reader = spark.read if schema is None else spark.read.schema(schema)
    df = reader.parquet(path)
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        # TIMESTAMP(NANOS) parquet read as long via nanosAsLong — restore
        # timestamp_ntz at micro precision (what DuckDB reads natively).
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")).cast("timestamp_ntz"))
    return df


def _tw(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """``_t`` + :func:`_widen_scan`: OPT-IN per query, for queries whose
    scan stage carries heavy per-row work (text kernels, shingle
    explodes, per-row Arrow batches) that would otherwise run serially
    on a low-row-group input. NOT the default: for cheap row-level
    scans the added exchange costs more than it parallelizes
    (filter_rows measured 2.4× WORSE widened), hand-tuned join plans
    gain a useless extra shuffle of the fact table (q21 2.0× worse),
    and per-task-init-heavy kernels multiply their init cost
    (bpe_encode 2.5× worse). Each call site below was measured both
    ways (OPTIMIZATION_r11.md)."""
    return _widen_scan(
        spark, _t(spark, sf_dir, name), _table_meta(spark, sf_dir, name)
    )


def _dec(col, scale: int = 2):
    return F.col(col).cast(f"decimal(18,{scale})")


def _artifact_tag(sf_dir: str, *tables: str) -> str:
    """Cache tag for derived /tmp artifacts (bucketed tables, CSV
    exports, partitioned copies): hashes the source PATH and each source
    table's :func:`_table_version`, so regenerated testdata at the same
    path, or a file rewritten in place inside a directory table, gets a
    fresh artifact instead of silently reusing a stale copy."""
    import hashlib

    parts = [sf_dir]
    for t in tables:
        version = _table_version(f"{sf_dir}/{t}.parquet")
        parts.append(f"{t}:{'absent' if version is None else version}")
    return hashlib.md5("|".join(parts).encode()).hexdigest()[:10]


def _publish_dir(tmp: str, final: str) -> None:
    """Atomically publish a staged artifact directory; if a concurrent
    session won the rename race, keep theirs (same content by tag)."""
    import os
    import shutil

    try:
        os.rename(tmp, final)
    except OSError:
        if os.path.isdir(final):
            shutil.rmtree(tmp, ignore_errors=True)
        else:
            raise


