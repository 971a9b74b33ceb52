"""ColumnarTable — the RowID-anchored lazy table algebra.

Re-expresses the reference's virtual-table operator set (SURVEY.md §2.1/§2.2)
over a Spark DataFrame. Each method is a thin, declarative DataFrame
transformation so Catalyst keeps column pruning, predicate pushdown, and
whole-stage codegen; nothing here collects to the driver.

Reference parity map (all citations relative to /root/reference):

====================  =========================================================
method                reference
====================  =========================================================
source/from_parquet   ColumnarVirtualTable ctor — ColumnarVirtualTable.java:140
select_columns        selectColumns — ColumnarVirtualTable.java:178-182
drop_columns          dropColumns — ColumnarVirtualTable.java:190-192
keep_only_columns     keepOnlyColumns — ColumnarVirtualTable.java:200-202
slice                 slice — ColumnarVirtualTable.java:211-214;
                      ColumnarTableBackend.java:285-335
filter_rows           filterRows — ColumnarVirtualTable.java:254-257
append_missing_...    appendMissingValueColumns — ColumnarVirtualTable.java:266
append_row_index      appendRowIndex — ColumnarVirtualTable.java:432-436
map / append_map /    map/appendMap/replaceMap —
replace_map           ColumnarVirtualTable.java:447-541
observe               observe — ColumnarVirtualTable.java:543-563
rename / update_...   replaceSchema/updateSchema — ColumnarVirtualTable.java:272,577
concatenate           ColumnarConcatenater.java:157-470 (union-by-name,
                      type upcast, missing-col fill, RowID policies)
append (hstack)       TableTransformUtils.java:83-163; ColumnarTableBackend.java:218
cast_columns          ColumnarSpecReplacer.java / TableCasterFactory.java:97-118
check_duplicate_keys  DuplicateCheckWritable.java:69; ColumnarConcatenater.java:427
materialize           ColumnarVirtualTableMaterializer.java:86-150
====================  =========================================================

Positional semantics under distribution (SURVEY.md §7 risk #1): the
reference validates RowID alignment instead of trusting physical order
(``TableTransformUtils.checkRowKeysMatch``). We adopt the same stance —
``append`` joins on ``_row_key``; ``slice`` / ``append_row_index`` take an
explicit ordering (or use a pre-existing row index) rather than assuming
DataFrame order. At 100 TB a global sort is the expensive path, so both
accept an already-materialized index column for O(scan) behavior.
"""

from __future__ import annotations

from collections.abc import Iterable, Sequence
from enum import Enum
from typing import Callable, Union

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from knime_core_columnar_spark.schema import (
    ROW_KEY,
    merge_schemas,
    promote_types,
    read_parquet,
)

ColumnLike = Union[str, Column]

class RowIdPolicy(Enum):
    """RowID handling for concatenate — ColumnarTableBackend.java:186-215."""

    FAIL_ON_DUPLICATES = "fail"  # pre-check, raise — ColumnarConcatenater.java:427-470
    UNIQUIFY_WITH_SUFFIX = "uniquify"  # append "_dup" until unique — ColumnarConcatenater.java:252-292
    REGENERATE = "regenerate"  # Row0, Row1, … — ColumnarConcatenater.java:186-215
    KEEP = "keep"  # trust caller (no check)


class DuplicateRowKeyError(ValueError):
    pass


def _col_names(df: DataFrame, cols: Sequence[int | str]) -> list[str]:
    names = df.columns
    out = []
    for c in cols:
        out.append(names[c] if isinstance(c, int) else c)
    return out


class ColumnarTable:
    """Immutable lazy table; every operator returns a new ColumnarTable.

    The wrapped DataFrame always has ``_row_key`` (string, non-null) as its
    first column, mirroring RowID-at-column-0
    (ColumnarVirtualTable.java:577-580).
    """

    def __init__(self, df: DataFrame):
        if ROW_KEY not in df.columns:
            raise ValueError(
                f"ColumnarTable requires a '{ROW_KEY}' column; use "
                "from_dataframe(..., key_columns=...) to derive one"
            )
        if df.columns[0] != ROW_KEY:
            df = df.select(ROW_KEY, *[c for c in df.columns if c != ROW_KEY])
        self._df = df

    # -- construction ------------------------------------------------------

    @classmethod
    def from_dataframe(
        cls,
        df: DataFrame,
        key_columns: Sequence[str] | None = None,
        key_expr: Column | None = None,
    ) -> "ColumnarTable":
        """Adopt a plain DataFrame. The RowID is derived from ``key_columns``
        (concatenated, the distributed-safe path) or an explicit ``key_expr``.

        Deriving keys from data columns instead of physical position keeps
        the operation shuffle-free and deterministic at any scale — the
        Spark replacement for the reference's write-cursor-assigned RowIDs
        (ColumnarRowWriteCursor.java:102).
        """
        if ROW_KEY in df.columns:
            return cls(df)
        if key_expr is not None:
            key = key_expr
        elif key_columns:
            key = F.concat_ws("_", *[F.col(c).cast("string") for c in key_columns])
        else:
            raise ValueError("need key_columns or key_expr to derive a RowID")
        return cls(df.select(key.cast("string").alias(ROW_KEY), "*"))

    @classmethod
    def from_parquet(
        cls,
        spark: SparkSession,
        path: str,
        key_columns: Sequence[str] | None = None,
    ) -> "ColumnarTable":
        """Source operator over a Parquet table
        (≅ ColumnarVirtualTable source ctor + Arrow batch store read —
        OffHeapArrowBatchReadStore.java; Parquet supplies batching,
        compression, dictionary encoding, and zone-map stats for free).
        The schema comes from the footer stamp when Spark wrote the files
        (:func:`~knime_core_columnar_spark.schema.parquet_schema`), so no
        inference job runs; other files are inferred as by
        ``spark.read.parquet``."""
        return cls.from_dataframe(read_parquet(spark, path), key_columns=key_columns)

    # -- accessors -----------------------------------------------------------

    @property
    def df(self) -> DataFrame:
        return self._df

    @property
    def columns(self) -> list[str]:
        """Data columns (RowID excluded), mirroring the reference's habit of
        addressing columns past the RowID slot."""
        return self._df.columns[1:]

    @property
    def schema(self) -> T.StructType:
        return self._df.schema

    def count(self) -> int:
        return self._df.count()

    def _wrap(self, df: DataFrame) -> "ColumnarTable":
        return ColumnarTable(df)

    # -- structural algebra (§2.1) ------------------------------------------

    def select_columns(self, *cols: int | str) -> "ColumnarTable":
        """Project / reorder / duplicate data columns; RowID always kept.
        selectColumns — ColumnarVirtualTable.java:178-182."""
        names = _col_names(self._df.select(self.columns), list(cols))
        exprs = [F.col(ROW_KEY)]
        seen: dict[str, int] = {}
        for n in names:
            k = seen.get(n, 0)
            seen[n] = k + 1
            exprs.append(F.col(n).alias(n if k == 0 else f"{n}_{k}"))
        return self._wrap(self._df.select(*exprs))

    def drop_columns(self, *cols: int | str) -> "ColumnarTable":
        """dropColumns — ColumnarVirtualTable.java:190-192."""
        names = set(_col_names(self._df.select(self.columns), list(cols)))
        keep = [c for c in self.columns if c not in names]
        return self._wrap(self._df.select(ROW_KEY, *keep))

    def keep_only_columns(self, *cols: int | str) -> "ColumnarTable":
        """Keep-set in original order — ColumnarVirtualTable.java:200-202."""
        names = set(_col_names(self._df.select(self.columns), list(cols)))
        keep = [c for c in self.columns if c in names]
        return self._wrap(self._df.select(ROW_KEY, *keep))

    def filter_rows(self, predicate: ColumnLike) -> "ColumnarTable":
        """Row filter — ColumnarVirtualTable.java:240-257. Expression-first
        so the predicate reaches the Parquet scan (PushedFilters)."""
        pred = F.expr(predicate) if isinstance(predicate, str) else predicate
        return self._wrap(self._df.filter(pred))

    def slice(
        self,
        start: int,
        stop: int,
        order_by: Sequence[ColumnLike] | None = None,
        index_column: str | None = None,
    ) -> "ColumnarTable":
        """Row range [start, stop) — ColumnarVirtualTable.java:211-214.

        Distribution note: a row range needs a total order. Two modes:
        - ``index_column``: a pre-existing 0-based index → pure range
          filter, partition-prunable, no shuffle (the scale path; mirrors
          the reference's binary search over recorded batch boundaries,
          DefaultColumnarCursor.java:185-199).
        - ``order_by``: explicit sort then offset/limit (driver-side
          orchestrated by Spark; fine for interactive use).
        Default order is the RowID.
        """
        if index_column is not None:
            c = F.col(index_column)
            return self._wrap(self._df.filter((c >= start) & (c < stop)))
        ob = [F.expr(o) if isinstance(o, str) else o for o in (order_by or [F.col(ROW_KEY)])]
        return self._wrap(self._df.orderBy(*ob).offset(start).limit(stop - start))

    def multi_slice(
        self,
        slices: Sequence[tuple[Sequence[int | str] | None, tuple[int, int] | None]],
        order_by: Sequence[ColumnLike] | None = None,
        index_column: str | None = None,
    ) -> list["ColumnarTable"]:
        """N (column-subset, row-range) slices from ONE call — the
        TableBackend multi-slice entry point
        (ColumnarTableBackend.java:285-335). Each element of ``slices``
        is ``(columns | None, (start, stop) | None)`` with None meaning
        all columns / all rows; the RowID is always part of every slice
        (the reference prepends column 0 unconditionally,
        ColumnarTableBackend.java:310-313).

        Like the reference's N virtual tables over one reference table,
        every slice is a lazy view of ``self``: nothing is persisted, and
        each slice's scan reads only the columns it selects. With an
        ``index_column`` each row range is a partition-prunable filter —
        the no-shuffle scale path; otherwise ranges sort on ``order_by``
        (RowID default).
        """
        out: list[ColumnarTable] = []
        for cols_sel, rng in slices:
            t = self
            if rng is not None:
                t = t.slice(rng[0], rng[1], order_by=order_by, index_column=index_column)
            if cols_sel is not None:
                t = t.select_columns(*cols_sel)
            out.append(t)
        return out

    def append_missing_value_columns(
        self, columns: dict[str, T.DataType] | T.StructType
    ) -> "ColumnarTable":
        """Append all-null columns of a given schema —
        ColumnarVirtualTable.java:266-270."""
        if isinstance(columns, T.StructType):
            items: Iterable[tuple[str, T.DataType]] = [
                (f.name, f.dataType) for f in columns.fields
            ]
        else:
            items = columns.items()
        df = self._df
        for name, dtype in items:
            df = df.withColumn(name, F.lit(None).cast(dtype))
        return self._wrap(df)

    def append_row_index(
        self,
        name: str = "_row_index",
        offset: int = 0,
        order_by: Sequence[ColumnLike] | None = None,
    ) -> "ColumnarTable":
        """Append a LONG row-index column with offset — appendRowIndex,
        ColumnarVirtualTable.java:432-436; offset persisted by ROWINDEX
        (TableTransformNodeSettingsPersistor.java:408-411).

        Contiguous indices need a total order ⇒ one distributed
        range-partitioned sort (``sampling.global_index``, the two-phase
        zipWithIndex) — NOT a ``row_number`` over a global window, which
        would funnel every row through one reducer at 100 TB. The
        default order (RowID) is total; a caller-supplied ``order_by``
        should include a unique tie-break or positions within ties are
        partition-order-dependent (the same caveat a global-window
        row_number has). ``zip_with_index()`` stays the cheaper O(scan)
        alternative when no semantic order is needed."""
        from knime_core_columnar_spark.operators.sampling import global_index

        ob = [F.expr(o) if isinstance(o, str) else o for o in (order_by or [F.col(ROW_KEY)])]
        df = global_index(self._df, ob, name)
        if offset:
            df = df.withColumn(name, (F.col(name) + offset).cast("long"))
        return self._wrap(df)

    def zip_with_index(self, name: str = "_row_index", offset: int = 0) -> "ColumnarTable":
        """Contiguous 0-based index in partition order without a global
        sort: count rows per partition (one small job), then cumulative
        offsets per partition — the classic distributed zipWithIndex.
        O(scan) instead of O(sort); index is stable for a fixed
        partitioning but not tied to a semantic order."""
        df = self._df.withColumn("__pid", F.spark_partition_id())
        w_part = Window.partitionBy("__pid").orderBy(F.monotonically_increasing_id())
        counts = df.groupBy("__pid").count()
        w_cum = Window.orderBy("__pid").rowsBetween(Window.unboundedPreceding, -1)
        offsets = counts.select(
            "__pid", F.coalesce(F.sum("count").over(w_cum), F.lit(0)).alias("__offset")
        )
        out = (
            df.withColumn("__local", F.row_number().over(w_part) - 1)
            .join(F.broadcast(offsets), "__pid")
            .withColumn(name, (F.col("__local") + F.col("__offset") + offset).cast("long"))
            .drop("__pid", "__local", "__offset")
        )
        return self._wrap(out)

    def map(self, exprs: dict[str, ColumnLike]) -> "ColumnarTable":
        """Replace data columns with mapper outputs — map,
        ColumnarVirtualTable.java:447-451. Expression-first (JVM-side,
        codegen); pass a Column built from a pandas_udf for the
        CellFactory-style escape hatch (§2.6)."""
        out = [F.col(ROW_KEY)] + [
            (F.expr(e) if isinstance(e, str) else e).alias(n) for n, e in exprs.items()
        ]
        return self._wrap(self._df.select(*out))

    def append_map(self, exprs: dict[str, ColumnLike]) -> "ColumnarTable":
        """Append mapper outputs — appendMap, ColumnarVirtualTable.java:478-482."""
        df = self._df.withColumns(
            {n: (F.expr(e) if isinstance(e, str) else e) for n, e in exprs.items()}
        )
        return self._wrap(df)

    def replace_map(self, name: str, expr: ColumnLike) -> "ColumnarTable":
        """Replace one column in place — replaceMap,
        ColumnarVirtualTable.java:513-541."""
        if name not in self.columns:
            raise ValueError(f"no such column: {name}")
        e = F.expr(expr) if isinstance(expr, str) else expr
        return self._wrap(self._df.withColumn(name, e))

    def map_with_row_index(
        self,
        exprs_fn,
        index_name: str = "_row_index",
        offset: int = 0,
        order_by: Sequence[ColumnLike] | None = None,
    ) -> "ColumnarTable":
        """Mapper that also receives the row index — the
        ColumnarMapperWithRowIndexFactory variant
        (ColumnarVirtualTable.java:296-342, wrapped at :462-467):
        ``exprs_fn(index_col) -> {name: Column}`` builds the outputs from
        the index column. Same ordering caveats as append_row_index."""
        t = self.append_row_index(index_name, offset=offset, order_by=order_by)
        out = t.append_map(exprs_fn(F.col(index_name)))
        return out.drop_columns(index_name)

    def rearrange(
        self,
        keep: Sequence[str] | None = None,
        append_factory=None,
        factory_output: "T.StructType | str | None" = None,
        convert: dict[str, ColumnLike] | None = None,
        order: Sequence[str] | None = None,
    ) -> "ColumnarTable":
        """Declarative column rearrangement — the ColumnRearranger entry
        point (ColumnarTableBackend.rearrange, ColumnarRearranger.java:142-199):
        keep/reorder existing columns, append multi-output factory columns,
        convert columns in place.

        ``append_factory`` is the CellFactory escape hatch
        (ColumnarRearranger.CellFactoryMap:468-503): a callable
        ``(pandas.DataFrame) -> pandas.DataFrame`` producing the new
        columns, declared by ``factory_output`` (struct schema). It runs
        via mapInPandas over Arrow batches — partition-parallel, columnar
        end-to-end, the Spark rendering of the reference's row-wise
        CellFactory with its progress reporting replaced by Spark task
        metrics. Prefer ``convert`` / expression columns when the logic is
        expressible — those stay in whole-stage codegen.

        The reference materializes factory outputs once then virtually
        appends them (ColumnarRearranger.java:284-291); here laziness is
        free — add ``.cache()`` downstream when the factory output is
        reused.
        """
        df = self._df
        if convert:
            for name, expr in convert.items():
                df = df.withColumn(name, F.expr(expr) if isinstance(expr, str) else expr)
        if append_factory is not None:
            if factory_output is None:
                raise ValueError("append_factory requires factory_output schema")
            out_schema = (
                T._parse_datatype_string(factory_output)
                if isinstance(factory_output, str)
                else factory_output
            )
            full_schema = T.StructType(
                [T.StructField(ROW_KEY, T.StringType(), False), *out_schema.fields]
            )

            def run_factory(batches):
                for pdf in batches:
                    out = append_factory(pdf)
                    out.insert(0, ROW_KEY, pdf[ROW_KEY].values)
                    yield out

            new_cols = df.mapInPandas(run_factory, full_schema)
            base = ColumnarTable(df)
            df = base.append([ColumnarTable(new_cols)], validate=False).df
        cols = list(keep) if keep is not None else [
            c for c in df.columns if c != ROW_KEY
        ]
        if order is not None:
            cols = list(order)
        return ColumnarTable(df.select(ROW_KEY, *cols))

    def observe(self, name: str, *aggs: Column) -> "ColumnarTable":
        """Side-effect observation (progress/metrics) — observe,
        ColumnarVirtualTable.java:543-563. Maps to df.observe: metrics are
        collected by the driver's QueryExecutionListener on action, with
        zero extra passes over the data."""
        return self._wrap(self._df.observe(name, *aggs))

    def rename_columns(self, mapping: dict[str, str]) -> "ColumnarTable":
        """Metadata-only schema swap (names) — replaceSchema,
        ColumnarVirtualTable.java:272-281; free at runtime."""
        df = self._df
        for old, new in mapping.items():
            df = df.withColumnRenamed(old, new)
        return self._wrap(df)

    def update_metadata(self, column: str, metadata: dict) -> "ColumnarTable":
        """Metadata-only schema update — updateSchema,
        ColumnarVirtualTable.java:577-599. Uses Column.alias(metadata=...)
        so the change is plan-level only (no data touch); persists into
        Parquet field metadata on write (≅ knime.logical_type extension
        metadata, LogicalTypeExtensionType.java:93)."""
        exprs = []
        for f in self._df.schema.fields:
            if f.name == column:
                md = dict(f.metadata or {})
                md.update(metadata)
                exprs.append(F.col(f.name).alias(f.name, metadata=md))
            else:
                exprs.append(F.col(f.name))
        return self._wrap(self._df.select(*exprs))

    def identity(self) -> "ColumnarTable":
        """No-op marker — persistor IDENTITY,
        TableTransformNodeSettingsPersistor.java:404-407."""
        return self

    # -- backend entry points (§2.2) -----------------------------------------

    def check_duplicate_keys(self) -> None:
        """Distributed RowID uniqueness check — replaces the disk-backed
        single-node DuplicateChecker (DuplicateCheckWritable.java:69,
        ColumnarConcatenater.java:427-470) with one aggregation:
        count != count(distinct) ⇒ find an example and raise."""
        row = self._df.agg(
            F.count(ROW_KEY).alias("n"), F.count_distinct(F.col(ROW_KEY)).alias("d")
        ).head()
        if row["n"] != row["d"]:
            ex = (
                self._df.groupBy(ROW_KEY)
                .count()
                .filter(F.col("count") > 1)
                .limit(1)
                .head()
            )
            raise DuplicateRowKeyError(f"duplicate RowID detected, e.g. {ex[ROW_KEY]!r}")

    def concatenate(
        self,
        others: Sequence["ColumnarTable"],
        row_id_policy: RowIdPolicy = RowIdPolicy.FAIL_ON_DUPLICATES,
        allow_varying_types: bool = True,
    ) -> "ColumnarTable":
        """UNION ALL by column name with type promotion and missing-column
        null-fill — ColumnarConcatenater.java:157-394.

        RowID policies (ColumnarTableBackend.java:186-215):
        FAIL_ON_DUPLICATES embeds the uniqueness check into the output
        plan (per-key window count + assert_true) — the union executes
        ONCE and fails at action time on a duplicate, instead of an
        eager pre-check job that scans all inputs twice;
        UNIQUIFY_WITH_SUFFIX appends ``_dup`` repeatedly until unique —
        k, k_dup, k_dup_dup — exactly like the reference
        (later tables lose; ColumnarConcatenater.java:252-292);
        REGENERATE rewrites keys as Row0..RowN-1 in table order
        (ColumnarConcatenater.java:186-215 — needs a global index ⇒ only
        policy with a sort). KEEP is the only fully shuffle-free policy;
        FAIL/UNIQUIFY shuffle once on the RowID (which also leaves the
        output hash-partitioned by key — free co-location for downstream
        key joins).
        """
        tables = [self, *others]
        # Merged schema over *data* columns; RowID stays string/first.
        merged = merge_schemas(
            [T.StructType([f for f in t.schema.fields if f.name != ROW_KEY]) for t in tables],
            allow_varying=allow_varying_types,
        )
        parts = []
        for i, t in enumerate(tables):
            have = {f.name: f.dataType for f in t.schema.fields}
            exprs = [F.col(ROW_KEY), F.lit(i).alias("__src")]
            for f in merged.fields:
                if f.name in have:
                    c = F.col(f.name)
                    if have[f.name] != f.dataType:
                        c = c.cast(f.dataType)  # value-level UPCAST — TableCasterFactory.java:97
                    exprs.append(c.alias(f.name))
                else:
                    exprs.append(F.lit(None).cast(f.dataType).alias(f.name))
            parts.append(t.df.select(*exprs))
        union = parts[0]
        for p in parts[1:]:
            union = union.unionByName(p)

        if row_id_policy is RowIdPolicy.REGENERATE:
            # Row0..RowN-1 in (table, key) order WITHOUT a single-task
            # global window: the range-partitioned two-phase index
            # (sampling.global_index) — the old row_number().over(
            # Window.orderBy(...)) funneled the whole union through one
            # reducer, a scale-killer at 100 TB
            from knime_core_columnar_spark.operators.sampling import (
                global_index,
            )

            union = global_index(
                union, [F.col("__src"), F.col(ROW_KEY)], "__pos"
            )
            union = union.withColumn(
                ROW_KEY, F.concat(F.lit("Row"), F.col("__pos").cast("string"))
            ).drop("__pos")
        elif row_id_policy is RowIdPolicy.UNIQUIFY_WITH_SUFFIX:
            # Reference parity (ColumnarConcatenater.java:252-292): the
            # suffix is appended REPEATEDLY until unique, so the n-th
            # duplicate of 'k' becomes k, k_dup, k_dup_dup, ... — and a
            # pre-existing 'k_dup' key can collide with the renamed
            # second 'k'. Renamed keys always end in '_dup', so when NO
            # input key matches that pattern (the overwhelmingly common
            # case — probed with one early-out, shuffle-free scan that
            # Catalyst prunes down to the RowID column), a single suffix
            # pass is provably collision-free and the result stays LAZY.
            #
            # Pattern-matching inputs take the SINGLE-PASS exact path:
            # every key decomposes as root + "_dup"*depth with a
            # pattern-free root, and collisions can only happen within a
            # root family. The reference's sequential "append _dup until
            # unique" is, per family, the parking-function greedy
            # (row i takes the smallest free slot >= its depth); slots
            # map back to keys as root + "_dup"*slot. One Arrow-batched
            # applyInPandas over root families computes it lazily in the
            # plan — no driver iteration, no convergence probes, no
            # cache pinning (the old path ran up to 10 suffix passes
            # with an isEmpty() action each). Cross-family collisions
            # are impossible: distinct pattern-free roots yield distinct
            # root+suffix strings.
            def _suffix_pass(u):
                w = Window.partitionBy(ROW_KEY).orderBy("__src", "__orig")
                occ = F.row_number().over(w) - 1
                return u.withColumn(
                    ROW_KEY, F.concat(F.col(ROW_KEY), F.repeat(F.lit("_dup"), occ))
                )

            union = union.withColumn("__orig", F.col(ROW_KEY))
            pattern_free = union.select(ROW_KEY).filter(
                F.col(ROW_KEY).rlike("_dup$")
            ).isEmpty()
            if pattern_free:
                union = _suffix_pass(union)
            else:
                import pandas as pd

                out_schema = T.StructType(
                    [f for f in union.schema.fields if f.name != "__root"]
                )

                def _family_greedy(pdf: "pd.DataFrame") -> "pd.DataFrame":
                    # rows of ONE root family, reference row order =
                    # (__src, original key); the greedy's used-set is
                    # exactly the keys emitted so far in that order
                    pdf = pdf.sort_values(
                        ["__src", "__orig"], kind="stable"
                    ).reset_index(drop=True)
                    root = pdf["__root"].iat[0]
                    used: set[int] = set()
                    keys = []
                    for orig in pdf["__orig"]:
                        e = (len(orig) - len(root)) // 4  # trailing _dup count
                        while e in used:
                            e += 1
                        used.add(e)
                        keys.append(root + "_dup" * e)
                    pdf[ROW_KEY] = keys
                    return pdf.drop(columns=["__root"])

                union = (
                    union.withColumn(
                        "__root", F.regexp_replace(ROW_KEY, "(_dup)+$", "")
                    )
                    .groupBy("__root")
                    .applyInPandas(_family_greedy, schema=out_schema)
                )
            union = union.drop("__orig")
        elif row_id_policy is RowIdPolicy.FAIL_ON_DUPLICATES:
            w = Window.partitionBy(ROW_KEY)
            union = (
                union.withColumn(
                    "__dupchk",
                    F.assert_true(
                        F.count(F.lit(1)).over(w) == 1,
                        F.concat(F.lit("concatenate: duplicate RowID "), F.col(ROW_KEY)),
                    ),
                )
                .filter(F.col("__dupchk").isNull())
                .drop("__dupchk")
            )
        return ColumnarTable(union.drop("__src"))

    def append(
        self,
        others: Sequence["ColumnarTable"],
        validate: bool = True,
    ) -> "ColumnarTable":
        """Positional hstack of equal-length tables, RowID-aligned —
        append, ColumnarVirtualTable.java:222-237 / ColumnarTableBackend.java:218-268.

        Spark has no positional zip at scale, and the reference itself
        refuses to trust physical order — it verifies pairwise-equal RowIDs
        (TableTransformUtils.checkRowKeysMatch:120-143) and equal sizes
        (:145-152). We therefore hstack via equi-join on ``_row_key``.

        ``validate``:
        - ``True`` (default): full-outer join with per-side presence
          markers checked by ``assert_true`` inside the same single pass —
          a key missing on any side fails the job at execution time with
          zero extra scans (the 100 TB path).
        - ``False``: plain inner join, caller guarantees alignment.
        Any other value raises ``ValueError``: saved plans pass it
        through unchecked, and a stale string must not pick a join.

        Assumes unique RowIDs per input (the table invariant the reference
        enforces at write time — DuplicateCheckWritable.java:69; use
        :meth:`check_duplicate_keys` when in doubt). Co-partitioned /
        bucketed inputs on ``_row_key`` make the join shuffle-free.
        """
        if not isinstance(validate, bool):
            raise ValueError(f"append: validate must be True or False, got {validate!r}")
        seen: dict[str, int] = {ROW_KEY: 1}
        for c in self.columns:
            seen[c] = 1
        how = "full" if validate else "inner"
        markers: list[str] = []
        joined = self._df
        if validate:
            joined = joined.withColumn("__m0", F.lit(True))
            markers.append("__m0")
        for i, t in enumerate(others, start=1):
            right = t.df
            for c in t.columns:  # disambiguate duplicate names like the
                k = seen.get(c, 0)  # reference's appended-table suffixing
                seen[c] = k + 1
                if k:
                    right = right.withColumnRenamed(c, f"{c}_{k}")
            if validate:
                right = right.withColumn(f"__m{i}", F.lit(True))
                markers.append(f"__m{i}")
            joined = joined.join(right, on=ROW_KEY, how=how)
        if validate:
            cond = F.lit(True)
            for m in markers:
                cond = cond & F.col(m).isNotNull()
            joined = (
                joined.withColumn(
                    "__align",
                    F.assert_true(
                        cond,
                        F.concat(
                            F.lit("append: RowID "),
                            F.col(ROW_KEY),
                            F.lit(" is not present in every input "
                                  "(TableTransformUtils.java:120-152 semantics)"),
                        ),
                    ),
                )
                .filter(F.col("__align").isNull())
                .drop("__align", *markers)
            )
        return ColumnarTable(joined)

    def cast_columns(self, casts: dict[str, T.DataType | str]) -> "ColumnarTable":
        """replaceSpec with per-column casts — ColumnarSpecReplacer.java:137-186,
        TableCasterFactory.java:97-118. Spark's Cast covers both the
        reference's UPCAST (value-level) and DOWNCAST (materializing) modes
        inside codegen."""
        df = self._df
        for name, dtype in casts.items():
            df = df.withColumn(name, F.col(name).cast(dtype))
        return self._wrap(df)

    # -- materialization ------------------------------------------------------

    def materialize(self, path: str, mode: str = "error") -> "ColumnarTable":
        """Execute the plan into a stored Parquet table and return a fresh
        source over it — ColumnarVirtualTableMaterializer.java:86-150.
        Parquet row groups ≅ the reference's ~64 MiB Arrow batches.
        After ``error`` or ``overwrite`` the files are this frame's, so the
        read-back takes its schema instead of inferring it (one Spark job
        less); after ``append`` or ``ignore`` they may hold other data."""
        self._df.write.mode(mode).parquet(path)
        reader = self._df.sparkSession.read
        if mode in ("error", "errorifexists", "overwrite"):
            reader = reader.schema(self._df.schema)
        return ColumnarTable(reader.parquet(path))

    def cache(self) -> "ColumnarTable":
        """Pin outputs for reuse — the reference's output cache
        (VirtualTableExtensionTable.java:473-492) ≅ df.persist()."""
        return self._wrap(self._df.cache())

    def to_local_iterator(self):
        """Row iterator — ColumnarRowIterator.java:66."""
        return self._df.toLocalIterator()
