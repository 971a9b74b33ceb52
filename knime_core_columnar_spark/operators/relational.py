"""Relational operators over ColumnarTable — joins, aggregation, windows,
sorting, set operations.

The reference repo does not implement these (SURVEY.md §2.7): in KNIME they
are nodes *consuming* the columnar backend (e.g. the benchmark workflow's
Row Filter / String Manipulation nodes). What this module adds on top of
raw Spark is the KNIME-compatible table semantics: every result is again a
ColumnarTable with a well-defined ``_row_key``, and each wrapper documents
its shuffle/broadcast behavior for the 100 TB case.

RowID rules (mirroring how KNIME join/groupby nodes key their outputs):
- join: left key, right key, or ``leftKey + "_" + rightKey`` (the KNIME
  Joiner's "concatenate" RowID mode); unmatched outer rows keep the
  present side's key.
- aggregate: RowID derived from the group key values.
- set ops / sort: RowIDs pass through unchanged.
"""

from __future__ import annotations

from collections.abc import Sequence
from typing import Literal

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from knime_core_columnar_spark.schema import ROW_KEY
from knime_core_columnar_spark.table import ColumnarTable

JoinHow = Literal[
    "inner", "left", "right", "full", "left_semi", "left_anti", "cross"
]
RowKeyMode = Literal["left", "right", "concat"]


def join(
    left: ColumnarTable,
    right: ColumnarTable,
    on: Column | Sequence[str],
    how: JoinHow = "inner",
    row_key: RowKeyMode = "concat",
) -> ColumnarTable:
    """Join two tables; RowIDs of the inputs are combined per ``row_key``.

    Scale: AQE picks the join strategy from runtime statistics, so a
    dimension table under the broadcast budget is broadcast without a
    hint. Semi/anti joins return only left columns and keep the left
    RowID (Spark's left_semi/left_anti).
    """
    lk = F.col(f"l.{ROW_KEY}")
    rk = F.col(f"r.{ROW_KEY}")
    ldf = left.df.alias("l")
    rdf = right.df.alias("r")
    if isinstance(on, Column):
        cond = on
    else:
        cond = None
        for c in on:
            e = F.col(f"l.{c}") == F.col(f"r.{c}")
            cond = e if cond is None else (cond & e)

    if how in ("left_semi", "left_anti"):
        out = ldf.join(rdf, cond, how)
        return ColumnarTable(out.select([F.col(f"l.{c}") for c in left.df.columns]))

    joined = ldf.join(rdf, cond, how)
    if row_key == "left":
        key = lk
    elif row_key == "right":
        key = rk
    else:  # KNIME Joiner "concatenate RowIDs" mode; outer rows keep the
        key = F.when(lk.isNull(), rk).when(rk.isNull(), lk).otherwise(
            F.concat(lk, F.lit("_"), rk)
        )
    dup = set(left.df.columns) & set(right.df.columns) - {ROW_KEY}
    cols = [key.alias(ROW_KEY)]
    cols += [F.col(f"l.{c}").alias(c) for c in left.columns]
    cols += [
        F.col(f"r.{c}").alias(f"{c}_r" if c in dup else c) for c in right.columns
    ]
    return ColumnarTable(joined.select(*cols))


def salted_join(
    big: DataFrame,
    small: DataFrame,
    on: Sequence[str] | str,
    how: Literal["inner", "left"] = "inner",
    salts: int = 8,
) -> DataFrame:
    """Skew-resistant equi-join: split each hot key of ``big`` across
    ``salts`` shuffle partitions by appending a synthetic salt, and
    replicate ``small`` once per salt value so every (key, salt) bucket
    still finds its match. The join RESULT is identical to a plain
    equi-join for any salt assignment — only the physical distribution
    changes — so the oracle for a salted query is the unsalted SQL.

    Use when one side has a few keys so hot that AQE's skew-split (which
    can only split a partition holding several keys) cannot help — a
    single key larger than an executor's share, e.g. the null-key or
    default-tenant pathology at 100 TB. Cost: ``small`` is duplicated
    ``salts``× through its shuffle/broadcast — keep ``salts`` at the
    skew factor, not higher.

    The salt on the big side is derived from a whole-row hash (cheap,
    deterministic per row, uniform); correctness does not depend on the
    assignment, so collisions merely reduce the spreading benefit.
    """
    on = [on] if isinstance(on, str) else list(on)
    big_s = big.withColumn(
        "__salt", F.pmod(F.xxhash64(*[F.col(c) for c in big.columns]), F.lit(salts))
    )
    small_s = small.withColumn(
        "__salt", F.explode(F.array(*[F.lit(i) for i in range(salts)]))
    )
    out = big_s.join(small_s, on + ["__salt"], how)
    return out.drop("__salt")


def aggregate(
    table: ColumnarTable,
    group_by: Sequence[str],
    aggs: dict[str, Column],
    grouping: Literal["groupby", "rollup", "cube"] = "groupby",
    include_grouping_id: bool = False,
    empty_grand_total: bool = False,
) -> ColumnarTable:
    """Group-by aggregation (partial/final split is automatic — map-side
    combine shrinks the shuffle to nGroups×nPartitions). ``rollup`` /
    ``cube`` add grouping-set rows with nulls on the rolled-up levels.

    Result RowID = group key values joined by "_" (null → "?"), matching
    KNIME GroupBy node output keying. When the DATA itself contains
    NULL group values, a data-NULL group and a rolled-up subtotal are
    indistinguishable by values alone (and share a RowID) — pass
    ``include_grouping_id=True`` to append the standard ``grouping_id``
    bitmask column (SQL GROUPING(); bit set = that level was rolled
    up, so a data-NULL row scores 0) and suffix it onto the RowID,
    restoring key uniqueness.

    Known Spark divergence from the SQL standard (found by the grouping
    differential fuzz): over EMPTY input, standard ROLLUP/CUBE emit the
    grand-total row (COUNT 0, NULL sums — DuckDB/Postgres do); Spark's
    rollup/cube emit nothing. The default keeps Spark's single-scan
    plan; ``empty_grand_total=True`` restores standard semantics by
    replacing the () grouping-set row with a separately computed global
    aggregate (always exactly one row) — the price is a second pass
    over the input, which is why it is opt-in.
    """
    df = table.df
    g = (
        df.rollup(*group_by)
        if grouping == "rollup"
        else df.cube(*group_by)
        if grouping == "cube"
        else df.groupBy(*group_by)
    )
    multi = grouping in ("rollup", "cube")
    need_gid = multi and (include_grouping_id or empty_grand_total)
    cols = [c.alias(n) for n, c in aggs.items()]
    if need_gid:
        cols.append(F.grouping_id().cast("long").alias("grouping_id"))
    out = g.agg(*cols)
    if multi and empty_grand_total:
        all_mask = (1 << len(group_by)) - 1
        total = df.agg(*[c.alias(n) for n, c in aggs.items()]).select(
            *[
                F.lit(None).cast(df.schema[c].dataType).alias(c)
                for c in group_by
            ],
            *[F.col(n) for n in aggs],
            F.lit(all_mask).cast("long").alias("grouping_id"),
        )
        out = out.filter(F.col("grouping_id") != all_mask).unionByName(total)
    key = F.concat_ws(
        "_", *[F.coalesce(F.col(c).cast("string"), F.lit("?")) for c in group_by]
    )
    if multi and include_grouping_id:
        key = F.concat_ws("#", key, F.col("grouping_id").cast("string"))
    out = out.select(key.alias(ROW_KEY), "*")
    if need_gid and not include_grouping_id:
        out = out.drop("grouping_id")
    return ColumnarTable(out)


def sort(
    table: ColumnarTable, order_by: Sequence[Column], limit: int | None = None
) -> ColumnarTable:
    """Global sort / top-k. With ``limit`` Spark plans
    TakeOrderedAndProject (per-partition heaps, no global sort) — always
    prefer a limit at 100 TB; unbounded global sorts are range-partitioned
    shuffles."""
    df = table.df.orderBy(*order_by)
    if limit is not None:
        df = df.limit(limit)
    return ColumnarTable(df)


def distinct(table: ColumnarTable, subset: Sequence[str] | None = None) -> ColumnarTable:
    """dropDuplicates keeping the minimum-RowID row per duplicate group —
    deterministic at any parallelism (Spark's dropDuplicates picks an
    arbitrary winner, which would flake the differential oracle and make
    reruns disagree). ``subset`` defaults to all data columns."""
    cols = list(subset) if subset is not None else table.columns
    w = Window.partitionBy(*cols).orderBy(F.col(ROW_KEY))
    return ColumnarTable(
        table.df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def _rekey_min_rowid(values: "DataFrame", source: "DataFrame", cols: Sequence[str]):
    """Re-attach the min RowID per value tuple with NULL-SAFE equality —
    intersect/subtract treat NULLs as equal, so a plain equi-join here
    would silently drop tuples containing NULL."""
    keyed = source.groupBy(cols).agg(F.min(ROW_KEY).alias(ROW_KEY))
    cond = None
    for c in cols:
        eq = values[c].eqNullSafe(keyed[c])
        cond = eq if cond is None else cond & eq
    return values.join(keyed, cond, "inner").select(
        keyed[ROW_KEY], *[values[c] for c in cols]
    )


def intersect(a: ColumnarTable, b: ColumnarTable) -> ColumnarTable:
    """INTERSECT (distinct) on data columns; RowID re-derived from the
    left table (min key per value tuple, null-safe)."""
    cols = a.columns
    common = a.df.select(cols).intersect(b.df.select(cols))
    return ColumnarTable(_rekey_min_rowid(common, a.df, cols))


def except_(a: ColumnarTable, b: ColumnarTable) -> ColumnarTable:
    """EXCEPT (distinct) on data columns, RowID from the left table."""
    cols = a.columns
    diff = a.df.select(cols).distinct().subtract(b.df.select(cols).distinct())
    return ColumnarTable(_rekey_min_rowid(diff, a.df, cols))


def upsert(base: DataFrame, updates: DataFrame, keys: Sequence[str]) -> DataFrame:
    """Keyed upsert (MERGE WHEN MATCHED THEN UPDATE SET * / WHEN NOT
    MATCHED THEN INSERT *): update rows win wholesale, unmatched base
    rows pass through, new update keys insert. One full-outer equi-join
    on the key — both sides shuffle once; on a lakehouse table format
    this is the same physical plan Delta/Iceberg MERGE produces.

    Update-wins is PER ROW (presence of the update key), not per column,
    so a NULL an update writes deliberately survives the merge."""
    cols = base.columns
    if list(updates.columns) != cols:
        raise ValueError(f"upsert: column mismatch {cols} vs {updates.columns}")
    # explicit aliases: base and updates commonly derive from the same
    # source (a self-join), which makes bare column refs ambiguous
    b = base.alias("__ups_b")
    # literal marker, NOT a key-null test: the null-safe join condition
    # deliberately matches NULL keys, so a NULL-keyed update row is a
    # legitimate match/insert whose presence a key-null probe would miss
    # (silently dropping its payload)
    u = updates.withColumn("__ups_present", F.lit(True)).alias("__ups_u")
    bc = lambda c: F.col(f"__ups_b.{c}")  # noqa: E731
    uc = lambda c: F.col(f"__ups_u.{c}")  # noqa: E731
    cond = None
    for k in keys:
        eq = bc(k).eqNullSafe(uc(k))
        cond = eq if cond is None else cond & eq
    matched = uc("__ups_present").isNotNull() & uc("__ups_present")
    joined = b.join(u, cond, "full_outer")
    return joined.select(
        *[F.when(matched, uc(c)).otherwise(bc(c)).alias(c) for c in cols]
    )


def diff_tables(
    old: DataFrame,
    new: DataFrame,
    keys: Sequence[str],
    change_col: str = "change",
) -> DataFrame:
    """Keyed table diff: one row per key present in either side, labeled
    'added' / 'removed' / 'changed' / 'unchanged', with the NEW side's
    values (OLD side's for removed keys). The regression-testing
    primitive behind KNIME's table-difference checkers
    (e.g. TableDiffer in knime-testing-framework): the reference's test
    harness compares tables cell by cell; distributed, that's one
    full-outer equi-join on the key plus a null-safe struct equality —
    no collect, no sort.

    Value comparison is null-safe over all non-key columns (two NULLs
    compare equal)."""
    cols = old.columns
    if list(new.columns) != cols:
        raise ValueError(f"diff_tables: column mismatch {cols} vs {new.columns}")
    value_cols = [c for c in cols if c not in keys]
    o = old.withColumn("__d_old", F.lit(True)).alias("__d_o")
    n = new.withColumn("__d_new", F.lit(True)).alias("__d_n")
    oc = lambda c: F.col(f"__d_o.{c}")  # noqa: E731
    nc = lambda c: F.col(f"__d_n.{c}")  # noqa: E731
    cond = None
    for k in keys:
        eq = oc(k).eqNullSafe(nc(k))
        cond = eq if cond is None else cond & eq
    in_old = F.coalesce(oc("__d_old"), F.lit(False))
    in_new = F.coalesce(nc("__d_new"), F.lit(False))
    same = None
    for c in value_cols:
        eq = oc(c).eqNullSafe(nc(c))
        same = eq if same is None else same & eq
    if same is None:
        same = F.lit(True)
    change = (
        F.when(in_old & ~in_new, "removed")
        .when(~in_old & in_new, "added")
        .when(same, "unchanged")
        .otherwise("changed")
    )
    out = [F.coalesce(nc(k), oc(k)).alias(k) for k in keys]
    out += [
        F.when(in_new, nc(c)).otherwise(oc(c)).alias(c) for c in value_cols
    ]
    out.append(change.alias(change_col))
    return o.join(n, cond, "full_outer").select(*out)


def window_apply(
    table: ColumnarTable,
    partition_by: Sequence[str],
    order_by: Sequence[Column],
    exprs: dict[str, Column],
    frame: tuple[int | None, int | None] | None = None,
) -> ColumnarTable:
    """Window functions over a partition/order spec. ``exprs`` values are
    window-function columns built with the returned spec via
    ``lambda w: F.row_number().over(w)``-style callables or plain Columns
    already bound to a Window. One shuffle on ``partition_by``; skewed
    partition keys are AQE-split."""
    w = Window.partitionBy(*partition_by).orderBy(*order_by)
    if frame is not None:
        lo = Window.unboundedPreceding if frame[0] is None else frame[0]
        hi = Window.unboundedFollowing if frame[1] is None else frame[1]
        w = w.rowsBetween(lo, hi)
    df = table.df
    for name, expr in exprs.items():
        col = expr(w) if callable(expr) else expr
        df = df.withColumn(name, col)
    return ColumnarTable(df)


def spearman(
    df: DataFrame,
    x_col: str,
    y_col: str,
    group_cols: Sequence[str] = (),
) -> DataFrame:
    """Spearman rank correlation per group (KNIME Rank Correlation
    node): average ranks with standard tie handling, kept exact as
    DOUBLED average ranks ``2·rank + ties − 1`` (integers — no
    fractional arithmetic until the closed form), moment sums in exact
    decimals, then Pearson-on-ranks in doubles. Two window sorts on the
    group key + one aggregation; constant columns yield NULL (nullif
    guard) in every engine. Output: group cols, ``n``, ``spearman``."""
    parts = list(group_cols)

    def _rank2(col: str) -> Column:
        return (
            2 * F.rank().over(Window.partitionBy(*parts).orderBy(col))
            + F.count(F.lit(1)).over(Window.partitionBy(*parts, col))
            - 1
        )

    r = df.select(
        *parts,
        _rank2(x_col).cast("decimal(19,0)").alias("__rx"),
        _rank2(y_col).cast("decimal(19,0)").alias("__ry"),
    )
    s = r.groupBy(*parts).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("__rx").cast("double").alias("sx"),
        F.sum("__ry").cast("double").alias("sy"),
        F.sum(F.col("__rx") * F.col("__rx")).cast("double").alias("sxx"),
        F.sum(F.col("__ry") * F.col("__ry")).cast("double").alias("syy"),
        F.sum(F.col("__rx") * F.col("__ry")).cast("double").alias("sxy"),
    )
    n = F.col("n")
    sx, sy = F.col("sx"), F.col("sy")
    sxx, syy, sxy = F.col("sxx"), F.col("syy"), F.col("sxy")
    return s.select(
        *parts,
        "n",
        F.round(
            (n * sxy - sx * sy)
            / F.nullif(
                F.sqrt(n * sxx - sx * sx) * F.sqrt(n * syy - sy * sy), F.lit(0.0)
            ),
            6,
        ).alias("spearman"),
    )


def table_fingerprint(
    df: DataFrame,
    cols: Sequence[str] | None = None,
    mod: int = 1_000_000_007,
) -> DataFrame:
    """Order-independent content checksum of a table — the replication /
    migration audit primitive: two copies of a 100 TB table can be
    compared by exchanging a few kilobytes instead of rows. Complements
    ``diff_tables`` (which localizes differences but moves both tables
    through a join): run the fingerprint first, diff only on mismatch.

    Per row, each audited column contributes a 60-bit md5-prefix hash of
    its canonical string (NULL gets a distinct marker), and the row as a
    whole contributes a hash of the unit-separator-joined canonical
    cells. Checksums are the per-column / per-row hash sums mod ``mod``
    — commutative, so ANY partitioning, ordering, or merge plan yields
    the identical value, and shard checksums can be maintained
    incrementally (sum of shard sums mod ``mod``). Sums accumulate in
    decimal(38,0): 2^60 per row times 10^12 rows stays far inside 38
    digits. One partial-aggregating scan, one 1-row exchange; the
    long-form output is unpivoted from the single aggregate row with
    ``stack`` — no per-column jobs, no explode of the fact table.

    Cross-engine caveat (matters for oracle comparison, not for
    Spark-to-Spark audits): canonical strings come from CAST(col AS
    STRING), which is engine-stable for integers, strings, dates, and
    decimals but not guaranteed for floats/timestamps — fingerprint
    those via an explicit stable formatting if DuckDB parity is needed.

    Returns one row per audited column — (part, n_nulls, checksum) —
    plus a ``__table__`` row whose checksum covers whole rows and whose
    n_nulls is the table's row count.
    """
    cols = list(cols or df.columns)
    marker = "\x00NULL\x00"

    def canon(c: str) -> Column:
        return F.coalesce(F.col(c).cast("string"), F.lit(marker))

    def h60(c: Column) -> Column:
        return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("long")

    aggs = [F.count(F.lit(1)).cast("long").alias("__n")]
    for i, c in enumerate(cols):
        aggs.append(
            F.sum(F.col(c).isNull().cast("long")).cast("long").alias(f"__nn{i}")
        )
        aggs.append(
            F.sum(h60(canon(c)).cast("decimal(38,0)")).alias(f"__cs{i}")
        )
    row_h = h60(F.concat_ws("\x1f", *[canon(c) for c in cols]))
    aggs.append(F.sum(row_h.cast("decimal(38,0)")).alias("__rcs"))
    one = df.agg(*aggs)

    pairs = ["'__table__'", "__n", f"CAST(__rcs % {mod} AS BIGINT)"]
    for i, c in enumerate(cols):
        pairs += [f"'{c}'", f"__nn{i}", f"CAST(__cs{i} % {mod} AS BIGINT)"]
    n_parts = 1 + len(cols)
    return one.selectExpr(
        f"stack({n_parts}, {', '.join(pairs)}) AS (part, n_nulls, checksum)"
    ).select(
        "part",
        F.coalesce("n_nulls", F.lit(0)).alias("n_nulls"),
        F.coalesce("checksum", F.lit(0)).alias("checksum"),
    )


def golden_records(
    df: "DataFrame",
    entity_col: str,
    id_col: str,
    mode_cols: Sequence[str] = (),
    max_cols: Sequence[str] = (),
    min_cols: Sequence[str] = (),
) -> "DataFrame":
    """Survivorship merge — collapse each resolved entity's member
    records into one golden record (the step AFTER entity resolution:
    ``dedup.connected_components`` decides WHICH records are the same
    thing; this decides what the merged record SAYS).

    Deterministic survivorship rules, one per column class:
      - ``mode_cols``: most frequent non-null value; ties broken by the
        smallest value — implemented as ``min(struct(-n, value))`` over
        per-(entity, value) counts, so the winner is engine- and
        partitioning-independent (a bare "first" would not be);
      - ``max_cols`` / ``min_cols``: extremum of the column;
      - canonical id: the minimum ``id_col`` of the entity.

    Scale shape: one groupBy per mode column (re-using the entity
    partitioning) plus one base aggregation, all map-side combinable;
    joins are on entity_col, co-partitioned. No windows over the full
    table, no collect.

    Returns one row per entity: (entity_col, n_records, canonical_id,
    <col>_mode …, <col>_max …, <col>_min …).
    """
    base = df.groupBy(entity_col).agg(
        F.count(F.lit(1)).alias("n_records"),
        F.min(F.col(id_col)).alias("canonical_id"),
        *[F.max(c).alias(f"{c}_max") for c in max_cols],
        *[F.min(c).alias(f"{c}_min") for c in min_cols],
    )
    out = base
    for c in mode_cols:
        counts = (
            df.filter(F.col(c).isNotNull())
            .groupBy(entity_col, c)
            .agg(F.count(F.lit(1)).alias("__n"))
        )
        winner = counts.groupBy(entity_col).agg(
            F.min(
                F.struct((-F.col("__n")).alias("__neg"), F.col(c).alias("__v"))
            )["__v"].alias(f"{c}_mode")
        )
        out = out.join(winner, entity_col, "left")
    return out


def join_explosion_profile(
    left: "DataFrame",
    right: "DataFrame",
    left_key: str,
    right_key: str,
    min_left: int,
    min_right: int,
    capacity: int = 256,
    target_rows_per_task: int = 5_000_000,
    left_total: int | None = None,
    right_total: int | None = None,
) -> "DataFrame":
    """Pre-flight join-size diagnosis — find the keys that would explode
    a join BEFORE running it (the 100 TB pre-check: one hot key on both
    sides multiplies; n_left × n_right rows land in one reducer unless
    salted).

    EXACT contract: every key with ≥ ``min_left`` rows on the left AND
    ≥ ``min_right`` rows on the right, with exact counts and the exact
    output-row product. Both sides are scanned with the Misra-Gries +
    exact-recount machinery (``sketch.heavy_hitters``) so per-partition
    state stays O(capacity) — never a full GROUP BY of either fact
    table; the final join is between two heavy-key tables of at most
    ``capacity × partitions`` rows. The thresholds inherit heavy_hitters'
    exactness floor (min_count > n/(capacity+1)), which the call checks.

    Returns (key, n_left, n_right, n_output_rows, salt_factor) where
    salt_factor = ceil(product / target_rows_per_task) — the salting
    fan-out that would level the reducers. Empty result = the join is
    safe at these thresholds.
    """
    from knime_core_columnar_spark.operators.sketch import heavy_hitters

    hl = heavy_hitters(
        left.select(F.col(left_key).cast("string").alias("key")),
        "key", min_count=min_left, capacity=capacity, total_count=left_total,
    ).select("key", F.col("n_occurrences").alias("n_left"))
    hr = heavy_hitters(
        right.select(F.col(right_key).cast("string").alias("key")),
        "key", min_count=min_right, capacity=capacity, total_count=right_total,
    ).select("key", F.col("n_occurrences").alias("n_right"))
    return (
        hl.join(hr, "key")
        .withColumn("n_output_rows", F.col("n_left") * F.col("n_right"))
        .withColumn(
            "salt_factor",
            F.ceil(F.col("n_output_rows") / F.lit(target_rows_per_task))
            .cast("int"),
        )
    )


def apply_changelog(
    base: "DataFrame",
    changelog: "DataFrame",
    keys: Sequence[str],
    op_col: str,
    seq_cols: Sequence[str],
    delete_op: str = "D",
) -> "DataFrame":
    """CDC changelog application — materialize the final state of a
    keyed table from a base snapshot plus an ordered stream of
    upserts/deletes (the Debezium/binlog replay shape; ``upsert`` is
    the special case with no deletes and one change per key).

    Per key, the WINNING change is the one with the greatest
    ``seq_cols`` tuple (a total order — pass a tiebreaker column);
    a winning delete removes the key, a winning upsert replaces the
    row, keys never mentioned keep their base row.

    Scale shape: one per-key window over the CHANGELOG only (the
    changelog is the small side of CDC by construction), then one
    outer join against the base keyed on ``keys`` — base rows never
    enter a window. Deterministic at any parallelism because the
    sequence tuple is a total order.
    """
    from pyspark.sql import Window

    w = Window.partitionBy(*keys).orderBy(
        *[F.col(c).desc() for c in seq_cols]
    )
    latest = (
        changelog.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") == 1)
        .drop("__rk")
    )
    survivors = latest.filter(F.col(op_col) != delete_op).drop(op_col)
    kept_base = base.join(
        latest.select(*[F.col(k) for k in keys]), list(keys), "left_anti"
    )
    return kept_base.unionByName(survivors)
