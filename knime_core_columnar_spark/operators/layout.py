"""Data-layout operators: multi-dimensional clustering for file skipping.

At 100 TB the dominant cost lever is how much data a scan can SKIP.
Hive partitioning (``DataFrameWriter.partitionBy``) prunes on one
low-cardinality dimension; range-sorting clusters one high-cardinality
dimension. Z-ordering interleaves the bits of several dimensions into
one key so that a range-partitioned write clusters ALL of them at once —
every parquet file then covers a small hyper-rectangle, and min/max
row-group statistics prune scans filtered on ANY of the z-ordered
columns (the technique behind Delta Lake's OPTIMIZE ZORDER BY and
DuckDB/Databricks layout docs; public algorithm: Morton order).

Everything here is pure Catalyst bit arithmetic — whole-stage codegen,
no UDFs, exact on any engine.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def zvalue(cols: Sequence[Column | str], bits: int = 16) -> Column:
    """Morton (Z-order) key: interleave the low ``bits`` bits of each
    column. cols[0] owns bit positions 0, k, 2k, …; cols[1] owns
    1, k+1, …; total width k*bits must fit a signed long (≤ 63).

    Columns must be non-negative integers (hash or bucketize first for
    strings/doubles/negatives — e.g. ``F.abs(F.hash(c))``). The
    expression is a flat OR of shift/mask terms: codegen-friendly,
    exactly reproducible in any SQL engine.
    """
    k = len(cols)
    if k < 2:
        raise ValueError("zvalue needs >= 2 columns (one column: just sort)")
    if k * bits > 63:
        raise ValueError(f"{k} cols x {bits} bits = {k * bits} > 63 bits")
    cs = [F.col(c).cast("long") if isinstance(c, str) else c.cast("long") for c in cols]
    z = F.lit(0).cast("long")
    for i in range(bits):
        for d, c in enumerate(cs):
            z = z.bitwiseOR(
                F.shiftleft(F.shiftright(c, i).bitwiseAND(F.lit(1)), i * k + d)
            )
    return z


def zvalue_sql(col_names: Sequence[str], bits: int = 16) -> str:
    """The identical Morton key as an ANSI-SQL expression string (for
    oracles and pushdown-equivalence tests)."""
    k = len(col_names)
    terms = [
        f"((({c} >> {i}) & 1) << {i * k + d})"
        for i in range(bits)
        for d, c in enumerate(col_names)
    ]
    return " | ".join(terms)


def zorder_repartition(
    df: DataFrame,
    cols: Sequence[str],
    bits: int = 16,
    num_partitions: int | None = None,
) -> DataFrame:
    """Cluster ``df`` for multi-dimensional skipping: range-partition on
    the Morton key (sampled range exchange — the same mechanism as a
    global sort's partitioner, no full sort needed) and sort WITHIN each
    partition so parquet row-group min/max stats are tight on every
    z-ordered column. Write the result with plain ``.write.parquet`` —
    each output file then covers a compact hyper-rectangle of the key
    space.

    The z column is dropped after partitioning; layout is a physical
    property, not a schema change.
    """
    z = zvalue(cols, bits).alias("__z")
    with_z = df.select("*", z)
    parted = (
        with_z.repartitionByRange(num_partitions, "__z")
        if num_partitions
        else with_z.repartitionByRange("__z")
    )
    return parted.sortWithinPartitions("__z").drop("__z")
