"""Write-time column statistics — the reference's domain calculation
(SURVEY.md §2.3): incremental per-column min/max
(ColumnarBoundedDomainCalculator.java:99-120) and nominal value sets capped
at a configurable count (ColumnarNominalDomainCalculator.java:92-113,
default 60), plus the RowID duplicate check (DuplicateCheckWritable.java:69).

On Spark all domains for all columns are computed in ONE distributed
aggregation pass (the reference streams them during the write; Parquet
min/max stats additionally come free on materialize). Nominal sets use
collect_set capped post-hoc — a set that exceeds the cap is recorded as
invalid (None), exactly the reference's drop-domain-when-over-cap
behavior. Nothing here collects row data to the driver — only the
aggregate row itself."""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import functions as F
from pyspark.sql import types as T

from knime_core_columnar_spark.schema import (
    DEFAULT_MAX_NOMINAL_VALUES,
    DOMAIN_MAX_KEY,
    DOMAIN_MIN_KEY,
    DOMAIN_VALUES_KEY,
    ROW_KEY,
)
from knime_core_columnar_spark.table import ColumnarTable

_BOUNDED = (
    T.ByteType, T.ShortType, T.IntegerType, T.LongType,
    T.FloatType, T.DoubleType, T.DecimalType, T.DateType, T.TimestampType,
    T.TimestampNTZType,
)
_NOMINAL = (T.StringType, T.BooleanType)


@dataclass
class ColumnDomain:
    """Mirror of the reference's per-column domain: bounds for comparable
    types, capped value set for nominal types."""

    min: object | None = None
    max: object | None = None
    values: list | None = None  # None = over cap / not nominal


def compute_domains(
    table: ColumnarTable,
    columns: list[str] | None = None,
    max_nominal_values: int = DEFAULT_MAX_NOMINAL_VALUES,
    initial: dict[str, ColumnDomain] | None = None,
) -> dict[str, ColumnDomain]:
    """One aggregation pass over the table computing every requested
    column's domain (min/max for bounded types, capped distinct set for
    nominal types).

    ``initial`` seeds the calculation with pre-existing domains, exactly
    the reference's initializeDomains path (DomainWritable seeded via
    ColumnarDomainCalculator.update(DataColumnDomain);
    DefaultDomainWritableConfig.java:155-162):
    - bounded: final bounds are the union of initial and computed bounds;
    - nominal: the effective cap is raised to max(cap, |initial values|)
      (DefaultDomainWritableConfig.java:160-161), the initial set is
      merged in, and exceeding the effective cap invalidates the domain
      (values=None) — the reference's drop-when-over-cap;
    - an initial domain with values=None (unknown/over-cap) is a no-op,
      mirroring update() ignoring a domain without values."""
    initial = initial or {}
    cols = columns or table.columns
    aggs = []
    plan: list[tuple[str, str, int]] = []
    for c in cols:
        dt = table.df.schema[c].dataType
        if isinstance(dt, _BOUNDED):
            aggs += [F.min(c).alias(f"__min_{c}"), F.max(c).alias(f"__max_{c}")]
            plan.append((c, "bounded", 0))
        elif isinstance(dt, _NOMINAL):
            init = initial.get(c)
            cap = max_nominal_values
            if init is not None and init.values:
                cap = max(cap, len(init.values))
            # cap+1 lets us detect overflow without shipping the full set
            aggs.append(
                F.slice(
                    F.sort_array(F.collect_set(F.col(c).cast("string"))),
                    1,
                    cap + 1,
                ).alias(f"__vals_{c}")
            )
            plan.append((c, "nominal", cap))
    if not aggs:
        return {}
    row = table.df.agg(*aggs).head()
    out: dict[str, ColumnDomain] = {}
    for c, kind, cap in plan:
        init = initial.get(c)
        if kind == "bounded":
            d = ColumnDomain(min=row[f"__min_{c}"], max=row[f"__max_{c}"])
            if init is not None:
                if init.min is not None and (d.min is None or init.min < d.min):
                    d.min = init.min
                if init.max is not None and (d.max is None or init.max > d.max):
                    d.max = init.max
            out[c] = d
        else:
            vals = row[f"__vals_{c}"]
            if vals is not None and len(vals) > cap:
                out[c] = ColumnDomain(values=None)
                continue
            merged = set(vals or [])
            if init is not None and init.values:
                merged |= set(init.values)
            out[c] = ColumnDomain(values=None if len(merged) > cap else sorted(merged))
    return out


def attach_domains(
    table: ColumnarTable, domains: dict[str, ColumnDomain]
) -> ColumnarTable:
    """Store computed domains in StructField metadata (the reference keeps
    them in DataColumnSpec; ours persist into Parquet field metadata)."""
    t = table
    for c, d in domains.items():
        md = {}
        if d.min is not None:
            md[DOMAIN_MIN_KEY] = str(d.min)
        if d.max is not None:
            md[DOMAIN_MAX_KEY] = str(d.max)
        if d.values is not None:
            md[DOMAIN_VALUES_KEY] = d.values
        if md:
            t = t.update_metadata(c, md)
    return t
