"""Relational catalog queries: joins, aggregates, windows, set operations,
scalar functions, reshaping and temporal joins.

Each query is a ``(spark, sf_dir) -> DataFrame`` callable registered with
its DuckDB oracle through ``_registry.query``; the determinism rules the
oracles follow are in the ``_registry`` docstring.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from knime_core_columnar_spark.schema import ROW_KEY
from knime_core_columnar_spark.table import ColumnarTable

from knime_core_columnar_spark.catalog._registry import (
    _artifact_path,
    _artifact_tag,
    _dec,
    _t,
    _table_meta,
    query,
)


# ---------------------------------------------------------------------------
# Relational surface (SURVEY §2.7)
# ---------------------------------------------------------------------------

@query(
    "join_customer_orders",
    """
    SELECT c.c_mktsegment,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY c.c_mktsegment
    """,
)
def join_customer_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inner equi-join + aggregation. customer is the small side →
    broadcast hint keeps the big fact table un-shuffled; at 100 TB the
    dimension still fits the 64 MiB broadcast budget."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    return (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(_dec("o_totalprice")).cast("double").alias("revenue"),
        )
    )


@query(
    "sort_topk",
    """
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 10
    """,
)
def sort_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-k: orderBy+limit compiles to TakeOrderedAndProject —
    per-partition heaps, no global sort, O(k) driver memory."""
    return (
        _t(spark, sf_dir, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(10)
    )


@query(
    "distinct_rows",
    "SELECT DISTINCT l_returnflag, l_linestatus, l_linenumber FROM lineitem",
)
def distinct_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dropDuplicates → partial-aggregate + exchange on the distinct key
    (map-side combine shrinks the shuffle to the distinct-value count)."""
    return _t(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_linestatus", "l_linenumber"
    ).dropDuplicates()


@query(
    "window_topk_per_group",
    """
    SELECT * FROM (
      SELECT o_custkey, o_orderkey, o_totalprice,
             ROW_NUMBER() OVER (PARTITION BY o_custkey
                                ORDER BY o_totalprice DESC, o_orderkey) AS rn
      FROM orders
    ) WHERE rn <= 3
    """,
)
def window_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 orders per customer via row_number window; Spark pushes the
    rn<=3 filter into the window sort (WindowGroupLimit) so each group
    keeps a 3-row heap instead of sorting everything."""
    from pyspark.sql import Window

    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return (
        _t(spark, sf_dir, "orders")
        .select("o_custkey", "o_orderkey", "o_totalprice")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
    )


# ---------------------------------------------------------------------------
# Joins (SURVEY §2.7) — via operators.relational wrappers
# ---------------------------------------------------------------------------

@query(
    "join_semi",
    """
    SELECT CAST(c_custkey AS VARCHAR) AS _row_key, c_custkey, c_name, c_mktsegment
    FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
                  AND o.o_orderstatus = 'F')
    """,
)
def join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-semi join (EXISTS): customers with a finished order. Spark
    plans a broadcast/shuffled semi-join — right side reduced to keys."""
    from knime_core_columnar_spark.operators.relational import join

    c = ColumnarTable.from_dataframe(_t(spark, sf_dir, "customer"), key_columns=["c_custkey"])
    o = ColumnarTable.from_dataframe(
        _t(spark, sf_dir, "orders").filter("o_orderstatus = 'F'"),
        key_columns=["o_orderkey"],
    )
    res = join(c, o, on=F.col("l.c_custkey") == F.col("r.o_custkey"), how="left_semi")
    return res.df.select(ROW_KEY, "c_custkey", "c_name", "c_mktsegment")


@query(
    "join_anti",
    """
    SELECT CAST(c_custkey AS VARCHAR) AS _row_key, c_custkey, c_name
    FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
)
def join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-anti join (NOT EXISTS): customers with no orders."""
    from knime_core_columnar_spark.operators.relational import join

    c = ColumnarTable.from_dataframe(_t(spark, sf_dir, "customer"), key_columns=["c_custkey"])
    o = ColumnarTable.from_dataframe(_t(spark, sf_dir, "orders"), key_columns=["o_orderkey"])
    res = join(c, o, on=F.col("l.c_custkey") == F.col("r.o_custkey"), how="left_anti")
    return res.df.select(ROW_KEY, "c_custkey", "c_name")


@query(
    "join_left_outer",
    """
    SELECT n.n_name, COUNT(c.c_custkey) AS n_customers,
           CAST(SUM(CAST(COALESCE(c.c_acctbal, 0) AS DECIMAL(18,2))) AS DOUBLE) AS total_bal
    FROM nation n LEFT JOIN customer c ON n.n_nationkey = c.c_nationkey
    GROUP BY n.n_name
    """,
)
def join_left_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-outer join preserving unmatched dimension rows (COUNT over a
    nullable column counts only matches)."""
    n = _t(spark, sf_dir, "nation")
    c = _t(spark, sf_dir, "customer")
    return (
        n.join(c, n.n_nationkey == c.c_nationkey, "left")
        .groupBy("n_name")
        .agg(
            F.count("c_custkey").alias("n_customers"),
            F.sum(F.coalesce(F.col("c_acctbal"), F.lit(0)).cast("decimal(18,2)"))
            .cast("double").alias("total_bal"),
        )
    )


# ---------------------------------------------------------------------------
# Grouping sets / rollup / cube, set ops, windows
# ---------------------------------------------------------------------------

@query(
    "rollup_returns",
    """
    SELECT COALESCE(l_returnflag,'?') || '_' || COALESCE(l_linestatus,'?') AS _row_key,
           l_returnflag, l_linestatus, COUNT(*) AS n,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
    FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def rollup_returns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP with subtotal + grand-total rows, via the aggregate wrapper
    (RowID derived from group keys, '?' for rolled-up levels)."""
    from knime_core_columnar_spark.operators.relational import aggregate

    t = ColumnarTable.from_dataframe(
        _t(spark, sf_dir, "lineitem"), key_columns=["l_orderkey", "l_linenumber"]
    )
    res = aggregate(
        t,
        ["l_returnflag", "l_linestatus"],
        {
            "n": F.count(F.lit(1)),
            "sum_qty": F.sum(_dec("l_quantity")).cast("double"),
        },
        grouping="rollup",
    )
    return res.df


@query(
    "cube_orders",
    """
    SELECT COALESCE(o_orderstatus,'?') || '_' || COALESCE(o_orderpriority,'?') AS _row_key,
           o_orderstatus, o_orderpriority, COUNT(*) AS n
    FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
)
def cube_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over two dimensions via the aggregate wrapper."""
    from knime_core_columnar_spark.operators.relational import aggregate

    t = ColumnarTable.from_dataframe(_t(spark, sf_dir, "orders"), key_columns=["o_orderkey"])
    res = aggregate(
        t, ["o_orderstatus", "o_orderpriority"], {"n": F.count(F.lit(1))}, grouping="cube"
    )
    return res.df


@query(
    "grouping_sets",
    """
    SELECT l_returnflag, l_linestatus, COUNT(*) AS n
    FROM lineitem GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
    """,
)
def grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS through Spark SQL."""
    _t(spark, sf_dir, "lineitem").createOrReplaceTempView("__li_gs")
    return spark.sql(
        "SELECT l_returnflag, l_linestatus, COUNT(*) AS n FROM __li_gs "
        "GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())"
    )


@query(
    "set_intersect",
    """
    SELECT DISTINCT CAST(o_custkey AS VARCHAR) AS _row_key, o_custkey
    FROM orders WHERE year(o_orderdate) = 1996
      AND o_custkey IN (SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1997)
    """,
)
def set_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT via the set-op wrapper (RowID re-derived from left)."""
    from knime_core_columnar_spark.operators.relational import intersect

    o = _t(spark, sf_dir, "orders")
    a = ColumnarTable.from_dataframe(
        o.filter(F.year("o_orderdate") == 1996).select("o_custkey"), key_columns=["o_custkey"]
    )
    b = ColumnarTable.from_dataframe(
        o.filter(F.year("o_orderdate") == 1997).select("o_custkey"), key_columns=["o_custkey"]
    )
    return intersect(a, b).df


@query(
    "set_except",
    """
    SELECT DISTINCT CAST(o_custkey AS VARCHAR) AS _row_key, o_custkey
    FROM orders
    WHERE o_custkey NOT IN (SELECT o_custkey FROM orders WHERE o_orderstatus = 'F')
    """,
)
def set_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT via the set-op wrapper: customers who ordered but never had
    a finished order."""
    from knime_core_columnar_spark.operators.relational import except_

    o = _t(spark, sf_dir, "orders")
    a = ColumnarTable.from_dataframe(o.select("o_custkey"), key_columns=["o_custkey"])
    b = ColumnarTable.from_dataframe(
        o.filter("o_orderstatus = 'F'").select("o_custkey"), key_columns=["o_custkey"]
    )
    return except_(a, b).df


@query(
    "union_distinct",
    """
    SELECT l_orderkey AS okey FROM lineitem WHERE l_linenumber = 1
    UNION
    SELECT o_orderkey AS okey FROM orders WHERE o_orderstatus = 'F'
    """,
)
def union_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION with distinct (union + dropDuplicates — one shuffle on the
    full row, partial-agg combined)."""
    a = _t(spark, sf_dir, "lineitem").filter("l_linenumber = 1").select(
        F.col("l_orderkey").alias("okey")
    )
    b = _t(spark, sf_dir, "orders").filter("o_orderstatus = 'F'").select(
        F.col("o_orderkey").alias("okey")
    )
    return a.union(b).distinct()


@query(
    "window_running_sum",
    """
    SELECT o_custkey, o_orderkey,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
             PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS running_rev
    FROM orders
    """,
)
def window_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative sum per key (decimal-exact then double). One shuffle on
    the partition key; rows stream through the frame in sorted order."""
    from pyspark.sql import Window

    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return _t(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderkey",
        F.sum(_dec("o_totalprice")).over(w).cast("double").alias("running_rev"),
    )


@query(
    "window_lag_lead",
    """
    SELECT o_custkey, o_orderkey, o_totalprice,
           LAG(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS prev_price,
           LEAD(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS next_price
    FROM orders
    """,
)
def window_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag/lead neighbors within each customer's order history."""
    from pyspark.sql import Window

    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    o = _t(spark, sf_dir, "orders")
    return o.select(
        "o_custkey", "o_orderkey", "o_totalprice",
        F.lag("o_totalprice").over(w).alias("prev_price"),
        F.lead("o_totalprice").over(w).alias("next_price"),
    )


@query(
    "window_moving_avg",
    """
    SELECT o_custkey, o_orderkey,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER w AS DOUBLE)
             / COUNT(*) OVER w AS avg3
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                 ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
    """,
)
def window_moving_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-row moving average (exact decimal sum / window count)."""
    from pyspark.sql import Window

    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(-2, 0)
    )
    return _t(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderkey",
        (F.sum(_dec("o_totalprice")).over(w).cast("double") / F.count(F.lit(1)).over(w)).alias("avg3"),
    )


@query(
    "count_distinct_agg",
    """
    SELECT l_returnflag,
           COUNT(DISTINCT l_suppkey) AS n_supp,
           COUNT(DISTINCT l_partkey) AS n_part,
           COUNT(*) AS n
    FROM lineitem GROUP BY l_returnflag
    """,
)
def count_distinct_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact multi-column COUNT DISTINCT (expand + two-phase agg in Spark;
    approx_count_distinct is the one-pass alternative when ±2% is fine)."""
    return (
        _t(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.count_distinct("l_suppkey").alias("n_supp"),
            F.count_distinct("l_partkey").alias("n_part"),
            F.count(F.lit(1)).alias("n"),
        )
    )


@query(
    "percentile_stats",
    """
    SELECT l_returnflag,
           quantile_cont(l_quantity, 0.5) AS median_qty,
           quantile_cont(l_extendedprice, 0.25) AS p25_price,
           quantile_cont(l_extendedprice, 0.75) AS p75_price,
           MIN(l_quantity) AS min_qty, MAX(l_quantity) AS max_qty
    FROM lineitem GROUP BY l_returnflag
    """,
)
def percentile_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact percentiles (continuous interpolation) + min/max — the
    reference's bounded-domain stats generalized."""
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.percentile("l_quantity", F.lit(0.5)).alias("median_qty"),
        F.percentile("l_extendedprice", F.lit(0.25)).alias("p25_price"),
        F.percentile("l_extendedprice", F.lit(0.75)).alias("p75_price"),
        F.min("l_quantity").alias("min_qty"),
        F.max("l_quantity").alias("max_qty"),
    )


@query(
    "collect_sorted",
    """
    SELECT o_orderpriority,
           array_to_string(list_sort(list(DISTINCT o_orderstatus)), ',') AS statuses,
           COUNT(*) AS n
    FROM orders GROUP BY o_orderpriority
    """,
)
def collect_sorted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """collect_set sorted into a deterministic array, serialized to a CSV
    string (the harness canonicalizer sorts result rows with pandas, which
    cannot hash list cells — string form keeps the value check exact)."""
    return (
        _t(spark, sf_dir, "orders")
        .groupBy("o_orderpriority")
        .agg(
            F.array_join(F.sort_array(F.collect_set("o_orderstatus")), ",").alias("statuses"),
            F.count(F.lit(1)).alias("n"),
        )
    )


# ---------------------------------------------------------------------------
# Scalar function library (SURVEY §2.7 "String Manipulation"-node surface)
# ---------------------------------------------------------------------------

@query(
    "string_funcs",
    """
    SELECT CAST(p_partkey AS VARCHAR) AS _row_key,
           upper(p_name) AS up, lower(p_brand) AS lo,
           substring(p_type, 1, 5) AS sub,
           CAST(strpos(p_type, ' ') AS INTEGER) AS pos,
           replace(p_name, 'a', '_') AS rep,
           lpad(p_brand, 12, '*') AS lp, rpad(p_brand, 12, '*') AS rp,
           reverse(p_name) AS rev,
           concat_ws('|', p_brand, p_type) AS cw,
           regexp_extract(p_type, '[a-z]+') AS re1,
           array_to_string(string_split(p_type, ' '), ',') AS parts,
           CAST(length(p_name) AS INTEGER) AS len,
           trim(p_name) AS tr
    FROM part
    """,
)
def string_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String-manipulation surface (the benchmark workflow's String
    Manipulation node) — all JVM-side Catalyst expressions."""
    t = ColumnarTable.from_dataframe(_t(spark, sf_dir, "part"), key_columns=["p_partkey"])
    return t.map({
        "up": F.upper("p_name"),
        "lo": F.lower("p_brand"),
        "sub": F.substring("p_type", 1, 5),
        "pos": F.instr("p_type", " "),
        "rep": F.replace(F.col("p_name"), F.lit("a"), F.lit("_")),
        "lp": F.lpad("p_brand", 12, "*"),
        "rp": F.rpad("p_brand", 12, "*"),
        "rev": F.reverse("p_name"),
        "cw": F.concat_ws("|", "p_brand", "p_type"),
        "re1": F.regexp_extract("p_type", "[a-z]+", 0),
        "parts": F.array_join(F.split("p_type", " "), ","),
        "len": F.length("p_name"),
        "tr": F.trim("p_name"),
    }).df


@query(
    "date_funcs",
    """
    SELECT CAST(l_orderkey AS VARCHAR) || '_' || CAST(l_linenumber AS VARCHAR) AS _row_key,
           CAST(year(l_shipdate) AS INTEGER) AS y,
           CAST(month(l_shipdate) AS INTEGER) AS m,
           CAST(day(l_shipdate) AS INTEGER) AS d,
           CAST(quarter(l_shipdate) AS INTEGER) AS q,
           CAST(dayofyear(l_shipdate) AS INTEGER) AS doy,
           date_trunc('month', l_shipdate) AS month_start,
           CAST(date_diff('day', DATE '1995-01-01', l_shipdate) AS INTEGER) AS days_since,
           CAST(l_shipdate AS DATE) + 5 AS plus5,
           last_day(CAST(l_shipdate AS DATE)) AS eom
    FROM lineitem
    """,
)
def date_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal function surface — the reference stores temporals as
    logical types over physical structs (SURVEY §1.2); Spark natives
    replace that encoding entirely."""
    t = ColumnarTable.from_dataframe(
        _t(spark, sf_dir, "lineitem"), key_columns=["l_orderkey", "l_linenumber"]
    )
    return t.map({
        "y": F.year("l_shipdate"),
        "m": F.month("l_shipdate"),
        "d": F.dayofmonth("l_shipdate"),
        "q": F.quarter("l_shipdate"),
        "doy": F.dayofyear("l_shipdate"),
        "month_start": F.date_trunc("month", F.col("l_shipdate")).cast("date"),
        "days_since": F.datediff(F.col("l_shipdate"), F.lit("1995-01-01").cast("date")),
        "plus5": F.date_add(F.col("l_shipdate").cast("date"), 5),
        "eom": F.last_day(F.col("l_shipdate").cast("date")),
    }).df


@query(
    "math_funcs",
    """
    SELECT CAST(l_orderkey AS VARCHAR) || '_' || CAST(l_linenumber AS VARCHAR) AS _row_key,
           abs(l_discount - 0.05) AS a,
           CAST(ceil(l_extendedprice) AS BIGINT) AS c,
           CAST(floor(l_extendedprice) AS BIGINT) AS f,
           sqrt(l_quantity) AS sq,
           l_quantity * l_quantity AS sq2,
           l_orderkey % 7 AS md,
           CAST(sign(l_quantity - 25) AS DOUBLE) AS sg,
           greatest(l_tax, l_discount) AS g, least(l_tax, l_discount) AS l
    FROM lineitem
    """,
)
def math_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Math surface (IEEE-deterministic subset: sqrt is correctly rounded;
    transcendentals like ln/exp are libm-dependent and stay out of the
    oracle set — see functions module for the full library)."""
    t = ColumnarTable.from_dataframe(
        _t(spark, sf_dir, "lineitem"), key_columns=["l_orderkey", "l_linenumber"]
    )
    return t.map({
        "a": F.abs(F.col("l_discount") - 0.05),
        "c": F.ceil("l_extendedprice").cast("long"),
        "f": F.floor("l_extendedprice").cast("long"),
        "sq": F.sqrt("l_quantity"),
        "sq2": F.col("l_quantity") * F.col("l_quantity"),
        "md": F.col("l_orderkey") % 7,
        "sg": F.signum(F.col("l_quantity") - 25).cast("double"),
        "g": F.greatest("l_tax", "l_discount"),
        "l": F.least("l_tax", "l_discount"),
    }).df


@query(
    "case_when_buckets",
    """
    SELECT CASE WHEN l_quantity < 10 THEN 'low'
                WHEN l_quantity < 30 THEN 'mid' ELSE 'high' END AS bucket,
           COUNT(*) AS n,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS total
    FROM lineitem GROUP BY 1
    """,
)
def case_when_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CASE/WHEN conditional logic + aggregation."""
    li = _t(spark, sf_dir, "lineitem")
    bucket = (
        F.when(F.col("l_quantity") < 10, "low")
        .when(F.col("l_quantity") < 30, "mid")
        .otherwise("high")
    )
    return li.groupBy(bucket.alias("bucket")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(_dec("l_extendedprice")).cast("double").alias("total"),
    )


@query(
    "json_extract",
    """
    SELECT event_type,
           CAST(SUM(CAST(props->>'$.k' AS INTEGER)) AS BIGINT) AS sum_k,
           COUNT(*) AS n
    FROM events GROUP BY event_type
    """,
)
def json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON field extraction from a string column (events.props)."""
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.sum(F.get_json_object("props", "$.k").cast("int")).alias("sum_k"),
        F.count(F.lit(1)).alias("n"),
    )


@query(
    "events_hourly",
    """
    SELECT date_trunc('hour', ts) AS hr, event_type, COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
    FROM events GROUP BY 1, 2
    """,
)
def events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling-hour aggregation — the batch twin of the Structured
    Streaming windowed aggregation in streaming/ (same logic, readStream
    + watermark at runtime)."""
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy(
        F.date_trunc("hour", F.col("ts")).cast("timestamp_ntz").alias("hr"), "event_type"
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("value").cast("decimal(18,4)")).cast("double").alias("total_value"),
    )


@query(
    "approx_aggregates",
    """
    SELECT l_returnflag,
           TRUE AS parts_ok, TRUE AS supps_ok, TRUE AS median_ok,
           COUNT(*) AS n
    FROM lineitem GROUP BY l_returnflag
    """,
)
def approx_aggregates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate aggregates (HLL count-distinct, quantile sketch) —
    one-pass, fixed-memory, the 100 TB substitutes for exact distinct
    counting / percentiles. The sketches are approximate, so the checked
    result is the ERROR BOUND, not the estimate: each flag is the Spark
    side's own |approx − exact| / exact ≤ ε test (HLL default rsd 5% →
    ε=0.15 ≈ 3σ; quantile sketch accuracy 10000 → ε=0.01), which the
    oracle asserts TRUE — a wrong sketch implementation goes red."""
    li = _t(spark, sf_dir, "lineitem")
    agg = li.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_partkey").alias("ap"),
        F.countDistinct("l_partkey").alias("ep"),
        F.approx_count_distinct("l_suppkey").alias("as_"),
        F.countDistinct("l_suppkey").alias("es"),
        F.percentile_approx("l_extendedprice", 0.5, 10000).alias("am"),
        F.percentile("l_extendedprice", F.lit(0.5)).alias("em"),
        F.count(F.lit(1)).alias("n"),
    )

    def within(approx, exact, eps):
        return (F.abs(approx.cast("double") - exact.cast("double"))
                / exact.cast("double") <= eps)

    return agg.select(
        "l_returnflag",
        within(F.col("ap"), F.col("ep"), 0.15).alias("parts_ok"),
        within(F.col("as_"), F.col("es"), 0.15).alias("supps_ok"),
        within(F.col("am"), F.col("em"), 0.01).alias("median_ok"),
        "n",
    )


@query(
    "registry_functions",
    """
    SELECT CAST(p_partkey AS VARCHAR) AS _row_key,
           upper(p_name) AS up,
           CAST(strpos(p_type, 'O') AS INTEGER) AS pos_o,
           least(greatest(p_size, 5), 40) AS clamped,
           COALESCE(NULLIF(p_brand, 'Brand#11'), 'OTHER') AS brand_or_other,
           levenshtein(p_type, 'STANDARD') AS lev_std
    FROM part
    """,
)
def registry_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar-function registry in action (functions.library): named
    expression builders compose into a normal projection — zero overhead
    vs hand-written Catalyst expressions."""
    from knime_core_columnar_spark.functions import apply_function as fn

    t = ColumnarTable.from_dataframe(_t(spark, sf_dir, "part"), key_columns=["p_partkey"])
    return t.map({
        "up": fn("upper", "p_name"),
        "pos_o": fn("index_of", "p_type", "O"),
        "clamped": fn("clamp", "p_size", 5, 40),
        "brand_or_other": fn("if_missing", fn("null_if", "p_brand", "Brand#11"), "OTHER"),
        "lev_std": fn("levenshtein", "p_type", F.lit("STANDARD")),
    }).df


@query(
    "explode_words",
    """
    SELECT word, COUNT(*) AS n FROM (
      SELECT unnest(string_split(p_type, ' ')) AS word FROM part
    ) GROUP BY word
    """,
)
def explode_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array explode (UDTF-style 1→N expansion — the reference has no
    UDTF surface, SURVEY §2.6; Spark's explode supplies it)."""
    p = _t(spark, sf_dir, "part")
    return (
        p.select(F.explode(F.split("p_type", " ")).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@query(
    "pivot_returns",
    """
    SELECT l_linestatus,
           COUNT(CASE WHEN l_returnflag = 'A' THEN 1 END) AS A,
           COUNT(CASE WHEN l_returnflag = 'N' THEN 1 END) AS N,
           COUNT(CASE WHEN l_returnflag = 'R' THEN 1 END) AS R
    FROM lineitem GROUP BY l_linestatus
    """,
)
def pivot_returns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIVOT: long→wide reshaping. Explicit value list keeps it one pass
    (pivot without values costs an extra distinct scan)."""
    return (
        _t(spark, sf_dir, "lineitem")
        .groupBy("l_linestatus")
        .pivot("l_returnflag", ["A", "N", "R"])
        .agg(F.count(F.lit(1)))
        .na.fill(0, ["A", "N", "R"])
    )


@query(
    "window_rank_stats",
    """
    SELECT o_custkey, o_orderkey,
           NTILE(4) OVER w AS quartile,
           PERCENT_RANK() OVER w AS pct_rank,
           CUME_DIST() OVER w AS cume,
           RANK() OVER w AS rnk,
           DENSE_RANK() OVER w AS drnk
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice, o_orderkey)
    """,
)
def window_rank_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking-function family (ntile/percent_rank/cume_dist/rank/
    dense_rank) over a deterministic total order per partition."""
    from pyspark.sql import Window

    w = Window.partitionBy("o_custkey").orderBy("o_totalprice", "o_orderkey")
    return _t(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderkey",
        F.ntile(4).over(w).alias("quartile"),
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cume"),
        F.rank().over(w).alias("rnk"),
        F.dense_rank().over(w).alias("drnk"),
    )


@query(
    "string_agg_sorted",
    """
    SELECT o_orderpriority,
           string_agg(DISTINCT o_orderstatus, ',' ORDER BY o_orderstatus) AS statuses,
           COUNT(DISTINCT o_custkey) AS n_cust
    FROM orders GROUP BY o_orderpriority
    """,
)
def string_agg_sorted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered string aggregation — canonical (sorted) element order so
    the result is deterministic at any parallelism."""
    return (
        _t(spark, sf_dir, "orders")
        .groupBy("o_orderpriority")
        .agg(
            F.array_join(F.sort_array(F.collect_set("o_orderstatus")), ",").alias("statuses"),
            F.count_distinct("o_custkey").alias("n_cust"),
        )
    )


@query(
    "window_first_last",
    """
    SELECT o_custkey, o_orderkey,
           FIRST_VALUE(o_totalprice) OVER w AS first_price,
           LAST_VALUE(o_totalprice) OVER
             (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
              ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS last_price,
           CAST(COUNT(*) OVER w AS BIGINT) AS n_so_far
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    """,
)
def window_first_last(spark: SparkSession, sf_dir: str) -> DataFrame:
    """first/last value over explicit frames (last_value needs the
    unbounded-following frame — the default frame ends at current row)."""
    from pyspark.sql import Window

    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    w_full = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return _t(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderkey",
        F.first("o_totalprice").over(w).alias("first_price"),
        F.last("o_totalprice").over(w_full).alias("last_price"),
        F.count(F.lit(1)).over(w).alias("n_so_far"),
    )


@query(
    "salted_join_skew",
    """
    SELECT o_orderpriority, COUNT(*) AS n,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY o_orderpriority
    """,
)
def salted_join_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The lineitem-orders join executed through the explicit skew-salting
    path (relational.salted_join, salts=8): hot order keys are spread
    over 8 shuffle buckets and orders rows are replicated per salt. The
    oracle is the PLAIN join — the salt must not change the result, which
    is exactly what this gate proves."""
    from knime_core_columnar_spark.operators.relational import salted_join

    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_extendedprice")
    o = (
        _t(spark, sf_dir, "orders")
        .select(F.col("o_orderkey").alias("l_orderkey"), "o_orderpriority")
    )
    j = salted_join(li, o, on="l_orderkey", how="inner", salts=8)
    return j.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(_dec("l_extendedprice")).cast("double").alias("total_price"),
    )


@query(
    "asof_join_events",
    """
    SELECT e.event_id AS err_id, e.user_id, e.ts AS err_ts,
           c.click_ts, c.click_id, c.click_value
    FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'error') e
    LEFT JOIN LATERAL (
      SELECT c.ts AS click_ts, c.event_id AS click_id, c.value AS click_value
      FROM events c
      WHERE c.event_type = 'click' AND c.user_id = e.user_id AND c.ts <= e.ts
      ORDER BY c.ts DESC, c.event_id DESC
      LIMIT 1
    ) c ON TRUE
    """,
)
def asof_join_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: for every error event, the latest click by the same
    user at-or-before the error. Spark plan: union + single shuffle on
    user_id + running last(ignorenulls) window (operators.temporal) —
    no inequality join, no BroadcastNestedLoop; scales as one sort-merge
    pass per key group. The oracle expresses the same point-in-time
    semantics as a lateral top-1 subquery."""
    from knime_core_columnar_spark.operators.temporal import asof_join

    ev = _t(spark, sf_dir, "events")
    left = ev.filter(F.col("event_type") == "error").select("event_id", "user_id", "ts")
    right = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", "event_id", "value"
    )
    res = asof_join(left, right, on="ts", by="user_id", suffix="_click")
    return res.select(
        F.col("event_id").alias("err_id"),
        "user_id",
        F.col("ts").alias("err_ts"),
        F.col("ts_click").alias("click_ts"),
        F.col("event_id_click").alias("click_id"),
        F.col("value").alias("click_value"),
    )


@query(
    "asof_forward_events",
    """
    SELECT e.event_id AS err_id, e.user_id, e.ts AS err_ts,
           p.purchase_ts, p.purchase_id,
           epoch_us(p.purchase_ts) - epoch_us(e.ts) AS gap_us
    FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'error') e
    LEFT JOIN LATERAL (
      SELECT c.ts AS purchase_ts, c.event_id AS purchase_id
      FROM events c
      WHERE c.event_type = 'purchase' AND c.user_id = e.user_id AND c.ts >= e.ts
      ORDER BY c.ts ASC, c.event_id ASC
      LIMIT 1
    ) p ON TRUE
    """,
)
def asof_forward_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward as-of join: for every error, the NEXT purchase by the same
    user at-or-after it, with the gap in microseconds — time-to-recovery
    analytics. Same single-shuffle carry-forward plan as the backward
    direction, traversed in descending time order."""
    from knime_core_columnar_spark.operators.temporal import asof_join

    ev = _t(spark, sf_dir, "events")
    left = ev.filter(F.col("event_type") == "error").select("event_id", "user_id", "ts")
    right = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id"
    )
    res = asof_join(left, right, on="ts", by="user_id", suffix="_p",
                    direction="forward")
    return res.select(
        F.col("event_id").alias("err_id"),
        "user_id",
        F.col("ts").alias("err_ts"),
        F.col("ts_p").alias("purchase_ts"),
        F.col("event_id_p").alias("purchase_id"),
        (F.unix_micros(F.col("ts_p").cast("timestamp"))
         - F.unix_micros(F.col("ts").cast("timestamp"))).alias("gap_us"),
    )


@query(
    "range_join_events",
    """
    SELECT a.event_type, COUNT(*) AS pairs,
           COUNT(DISTINCT a.event_id) AS lhs_with_follower
    FROM events a
    JOIN events b
      ON a.event_type = b.event_type
     AND b.ts > a.ts AND b.ts <= a.ts + INTERVAL 5 MINUTE
    GROUP BY a.event_type
    """,
)
def range_join_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded range join: same-type event pairs within a forward 5-minute
    window, counted per type. Spark plan (operators.temporal.range_join):
    right rows bucketed to floor(ts/band), left rows probe bucket and
    bucket+1 via posexplode, so the interval predicate runs as a shuffled
    equi-join on (type, bucket) + residual filter instead of the
    BroadcastNestedLoopJoin a raw inequality join produces. The oracle is
    the raw inequality join (fine for DuckDB's IEJoin at sf0.01)."""
    from knime_core_columnar_spark.operators.temporal import range_join

    ev = _t(spark, sf_dir, "events")
    a = ev.select("event_type", F.col("ts").alias("ts_a"), F.col("event_id").alias("id_a"))
    b = ev.select("event_type", F.col("ts").alias("ts_b"))
    pairs = range_join(a, b, key="event_type", left_ts="ts_a", right_ts="ts_b",
                       band_seconds=300, bounds="(]")
    return pairs.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("pairs"),
        F.count_distinct(F.col("id_a")).alias("lhs_with_follower"),
    )


@query(
    "window_ntile",
    """
    SELECT o_orderpriority, CAST(tile AS INTEGER) AS tile, COUNT(*) AS n,
           MIN(o_orderkey) AS min_key, MAX(o_orderkey) AS max_key,
           MAX(pr) AS max_pr, MAX(cd) AS max_cd
    FROM (
      SELECT o_orderpriority, o_orderkey,
             NTILE(4) OVER (PARTITION BY o_orderpriority ORDER BY o_orderkey) AS tile,
             PERCENT_RANK() OVER (PARTITION BY o_orderpriority ORDER BY o_orderkey) AS pr,
             CUME_DIST() OVER (PARTITION BY o_orderpriority ORDER BY o_orderkey) AS cd
      FROM orders
    )
    GROUP BY o_orderpriority, tile
    """,
)
def window_ntile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quartile assignment + distribution ranks (ntile / percent_rank /
    cume_dist) over a unique total order, aggregated per (group, tile).
    One shuffle on the partition key; ranks are exact rational doubles —
    identical across engines given the unique ordering key."""
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy("o_orderkey")
    ranked = o.select(
        "o_orderpriority", "o_orderkey",
        F.ntile(4).over(w).alias("tile"),
        F.percent_rank().over(w).alias("pr"),
        F.cume_dist().over(w).alias("cd"),
    )
    return ranked.groupBy("o_orderpriority", "tile").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("o_orderkey").alias("min_key"),
        F.max("o_orderkey").alias("max_key"),
        F.max("pr").alias("max_pr"),
        F.max("cd").alias("max_cd"),
    )


@query(
    "topk_ties",
    """
    SELECT o_orderpriority, o_orderkey, o_totalprice, CAST(rnk AS INTEGER) AS rnk
    FROM (
      SELECT o_orderpriority, o_orderkey, o_totalprice,
             RANK() OVER (PARTITION BY o_orderpriority
                          ORDER BY o_totalprice DESC) AS rnk
      FROM orders
    ) WHERE rnk <= 3
    """,
)
def topk_ties(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ties-preserving top-k per group (rank, not row_number): equal
    prices all surface. Spark still plans WindowGroupLimit for the
    rank<=k filter — per-partition bounded heaps, no global sort."""
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(F.col("o_totalprice").desc())
    return (
        o.select(
            "o_orderpriority", "o_orderkey", "o_totalprice",
            F.rank().over(w).alias("rnk"),
        )
        .filter(F.col("rnk") <= 3)
    )


@query(
    "conditional_agg",
    """
    SELECT l_returnflag,
           COUNT(*) FILTER (WHERE l_discount > 0.05) AS n_discounted,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2)))
                FILTER (WHERE l_tax > 0.04) AS DOUBLE) AS qty_hightax,
           COUNT(*) FILTER (WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00') AS n_recent,
           COUNT(*) AS n
    FROM lineitem GROUP BY l_returnflag
    """,
)
def conditional_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filtered aggregation (SQL FILTER clause / KNIME's conditional
    GroupBy patterns) — predicates evaluate inside the single partial
    aggregation, no extra scan per condition."""
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.count_if(F.col("l_discount") > 0.05).alias("n_discounted"),
        F.sum(
            F.when(F.col("l_tax") > 0.04, F.col("l_quantity").cast("decimal(18,2)"))
        ).cast("double").alias("qty_hightax"),
        F.count_if(
            F.col("l_shipdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp_ntz")
        ).alias("n_recent"),
        F.count(F.lit(1)).alias("n"),
    )


@query(
    "argmax_per_group",
    """
    SELECT o_orderpriority, o_orderkey AS top_order, o_totalprice AS top_price
    FROM (
      SELECT o_orderpriority, o_orderkey, o_totalprice,
             ROW_NUMBER() OVER (PARTITION BY o_orderpriority
                                ORDER BY o_totalprice DESC, o_orderkey DESC) AS rn
      FROM orders
    ) WHERE rn = 1
    """,
)
def argmax_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Argmax as ONE hash aggregation (max of a (price, key) struct —
    lexicographic, deterministic tiebreak) instead of a window sort: at
    scale this partial-aggregates map-side, so the shuffle carries one
    row per group instead of every row, the same reason the reference
    streams its domain maxima instead of sorting (SURVEY §2.3)."""
    o = _t(spark, sf_dir, "orders")
    m = o.groupBy("o_orderpriority").agg(
        F.max(F.struct(F.col("o_totalprice"), F.col("o_orderkey"))).alias("m")
    )
    return m.select(
        "o_orderpriority",
        F.col("m.o_orderkey").alias("top_order"),
        F.col("m.o_totalprice").alias("top_price"),
    )


@query(
    "bucketed_join",
    """
    SELECT o.o_custkey, COUNT(*) AS n_orders,
           CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
           MIN(c.c_name) AS c_name
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY o.o_custkey
    """,
)
def bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Co-located join via bucketed tables: both sides bucketed (and
    sorted) on the join key into 8 buckets, so the join AND the
    follow-up per-key aggregation reuse the on-disk partitioning —
    zero Exchange in the whole plan (asserted in tests/test_plans.py).
    This is the materialize-once-join-many pattern the reference cannot
    express (its store is position-addressed, SURVEY §4): at 100 TB,
    bucketing the fact table once amortizes every downstream key join."""
    import os

    tag = _artifact_tag(sf_dir, "orders", "customer")
    base = _artifact_path("bucketed", tag)
    specs = [("orders", f"bk_orders_{tag}", "o_custkey"),
             ("customer", f"bk_customer_{tag}", "c_custkey")]
    for src, name, key in specs:
        # The metastore entry (spark-warehouse) can outlive the /tmp data
        # directory — if the backing path is gone, drop and rebuild the
        # table instead of failing on every scan until manual cleanup.
        exists = spark.catalog.tableExists(name)
        if exists and not os.path.isdir(f"{base}/{name}"):
            spark.sql(f"DROP TABLE IF EXISTS {name}")
            exists = False
        if not exists:
            (
                _t(spark, sf_dir, src)
                .write.bucketBy(8, key).sortBy(key)
                .option("path", f"{base}/{name}")
                .mode("overwrite").format("parquet")
                .saveAsTable(name)
            )
    o = spark.table(f"bk_orders_{tag}")
    c = spark.table(f"bk_customer_{tag}")
    # merge hint: at test SFs the dimension side is under the broadcast
    # threshold, which would hide the point — the bucketed sort-merge
    # join reads both sides pre-partitioned AND pre-sorted (no Exchange,
    # no Sort), the plan a 100 TB fact⋈fact join needs.
    return (
        o.join(c.hint("merge"), o["o_custkey"] == c["c_custkey"])
        .groupBy("o_custkey")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double").alias("revenue"),
            F.min("c_name").alias("c_name"),
        )
    )


@query(
    "unpivot_metrics",
    """
    SELECT l_returnflag, metric, val FROM (
      SELECT l_returnflag,
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
             CAST(SUM(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS sum_disc
      FROM lineitem GROUP BY l_returnflag
    ) UNPIVOT (val FOR metric IN (sum_qty, sum_price, sum_disc))
    """,
)
def unpivot_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot (wide → long): aggregate once, melt the metric columns into
    (group, metric, value) rows — the inverse of pivot_returns. Spark's
    unpivot is a zero-shuffle projection over the agg output."""
    li = _t(spark, sf_dir, "lineitem")
    wide = li.groupBy("l_returnflag").agg(
        F.sum(_dec("l_quantity")).cast("double").alias("sum_qty"),
        F.sum(_dec("l_extendedprice")).cast("double").alias("sum_price"),
        F.sum(_dec("l_discount")).cast("double").alias("sum_disc"),
    )
    return wide.unpivot(
        ["l_returnflag"], ["sum_qty", "sum_price", "sum_disc"], "metric", "val"
    )


@query(
    "date_spine",
    """
    WITH spine AS (
      SELECT CAST(unnest(generate_series(DATE '1995-01-01', DATE '1998-12-01',
                                         INTERVAL 1 MONTH)) AS DATE) AS month
    ), rev AS (
      SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
             COUNT(*) AS n_orders,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
      FROM orders GROUP BY 1
    )
    SELECT spine.month, COALESCE(rev.n_orders, 0) AS n_orders,
           COALESCE(rev.revenue, CAST(0 AS DOUBLE)) AS revenue
    FROM spine LEFT JOIN rev ON spine.month = rev.month
    """,
)
def date_spine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar-spine left join: a generated monthly spine keeps empty
    months in the report (gap-free time series — the pattern BI layers
    need). The spine is a tiny generated relation (broadcast side);
    revenue aggregates once on (month)."""
    o = _t(spark, sf_dir, "orders")
    spine = spark.range(1).select(
        F.explode(
            F.sequence(
                F.lit("1995-01-01").cast("date"),
                F.lit("1998-12-01").cast("date"),
                F.expr("interval 1 month"),
            )
        ).alias("month")
    )
    rev = o.groupBy(
        F.date_trunc("month", F.col("o_orderdate")).cast("date").alias("month")
    ).agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(_dec("o_totalprice")).cast("double").alias("revenue"),
    )
    return spine.join(rev, "month", "left").select(
        "month",
        F.coalesce(F.col("n_orders"), F.lit(0)).alias("n_orders"),
        F.coalesce(F.col("revenue"), F.lit(0.0)).alias("revenue"),
    )


@query(
    "window_range_frame",
    """
    SELECT event_id, user_id, us,
           CAST(SUM(CAST(value AS DECIMAL(18,4)))
                OVER (PARTITION BY user_id ORDER BY us
                      RANGE BETWEEN 600000000 PRECEDING AND CURRENT ROW)
                AS DOUBLE) AS trailing_10m
    FROM (SELECT event_id, user_id, epoch_us(ts) AS us, value FROM events)
    """,
)
def window_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE-frame window (event-time trailing 10 minutes, not N rows):
    the frame is defined by timestamp distance, so ties and gaps behave
    correctly. Decimal accumulation inside the frame keeps the sum exact
    (window engines disagree on double association order). One shuffle
    on user_id."""
    ev = _t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("us")
        .rangeBetween(-600_000_000, 0)
    )
    return ev.select(
        "event_id", "user_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
        F.col("value").cast("decimal(18,4)").alias("__v"),
    ).select(
        "event_id", "user_id", "us",
        F.sum("__v").over(w).cast("double").alias("trailing_10m"),
    )


@query(
    "upsert_orders",
    """
    WITH base AS (
      SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderpriority
      FROM orders WHERE o_orderkey <= 2000
    ), upd AS (
      SELECT o_orderkey, o_custkey, 'U' AS o_orderstatus,
             o_totalprice * 1.1 AS o_totalprice, o_orderpriority
      FROM orders WHERE o_orderkey > 1500 AND o_orderkey <= 2500
    )
    SELECT COALESCE(u.o_orderkey, b.o_orderkey) AS o_orderkey,
           COALESCE(u.o_custkey, b.o_custkey) AS o_custkey,
           CASE WHEN u.o_orderkey IS NOT NULL THEN u.o_orderstatus
                ELSE b.o_orderstatus END AS o_orderstatus,
           CASE WHEN u.o_orderkey IS NOT NULL THEN u.o_totalprice
                ELSE b.o_totalprice END AS o_totalprice,
           CASE WHEN u.o_orderkey IS NOT NULL THEN u.o_orderpriority
                ELSE b.o_orderpriority END AS o_orderpriority
    FROM base b FULL OUTER JOIN upd u ON b.o_orderkey = u.o_orderkey
    """,
)
def upsert_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyed upsert (MERGE semantics without a table format): update rows
    win wholesale, unmatched base rows survive, brand-new update rows
    insert — one full-outer equi-join on the key (both sides shuffle on
    the key; on a lakehouse this is Delta/Iceberg MERGE, the Spark plan
    is the same join). Update rows replace EVERY column (update-wins per
    row, not per column) so a NULL written by an update survives."""
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderpriority"
    )
    base = o.filter("o_orderkey <= 2000")
    upd = (
        o.filter("o_orderkey > 1500 AND o_orderkey <= 2500")
        .withColumn("o_orderstatus", F.lit("U"))
        .withColumn("o_totalprice", F.col("o_totalprice") * 1.1)
    )
    from knime_core_columnar_spark.operators.relational import upsert

    return upsert(base, upd, keys=["o_orderkey"])


@query(
    "json_typed_extract",
    """
    SELECT event_id, CAST(props->>'k' AS INTEGER) AS k_typed,
           event_type
    FROM events
    WHERE CAST(props->>'k' AS INTEGER) > 90
    """,
)
def json_typed_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-declared JSON parsing (from_json with a typed struct, not
    stringly get_json_object): the parsed struct is a real column whose
    fields prune and push like any other, and the filter on the typed
    field runs in codegen."""
    ev = _t(spark, sf_dir, "events")
    parsed = ev.select(
        "event_id", "event_type",
        F.from_json(F.col("props"), "k int").alias("p"),
    )
    return (
        parsed.filter(F.col("p.k") > 90)
        .select("event_id", F.col("p.k").alias("k_typed"), "event_type")
    )


@query(
    "scd2_intervals",
    """
    SELECT user_id, event_id, ts AS valid_from,
           LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to,
           (LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL)
             AS is_current,
           value
    FROM events WHERE event_type = 'signup'
    """,
)
def scd2_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension (type 2) history build: each state
    change opens a validity interval [ts, next_ts) closed by the next
    change for the same key; the open interval is the current row. One
    lead() window per key — the standard warehouse historization, and
    the batch construction the as-of join then queries."""
    ev = _t(spark, sf_dir, "events").filter(F.col("event_type") == "signup")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    nxt = F.lead("ts").over(w)
    return ev.select(
        "user_id", "event_id",
        F.col("ts").alias("valid_from"),
        nxt.alias("valid_to"),
        nxt.isNull().alias("is_current"),
        "value",
    )


@query(
    "gaps_islands",
    """
    WITH d AS (
      SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS day
      FROM events
    ), g AS (
      SELECT user_id, day,
             CAST(day - CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY day)
                             AS INTEGER) AS DATE) AS grp
      FROM d
    )
    SELECT user_id, MIN(day) AS streak_start, MAX(day) AS streak_end,
           COUNT(*) AS streak_days
    FROM g GROUP BY user_id, grp
    """,
)
def gaps_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands: consecutive-active-day streaks per user via the
    day − row_number() grouping trick (equal within each unbroken run).
    Distinct + one window + one aggregation; everything shuffles once on
    user_id and stays there."""
    ev = _t(spark, sf_dir, "events")
    d = ev.select(
        "user_id", F.date_trunc("day", F.col("ts")).cast("date").alias("day")
    ).distinct()
    w = Window.partitionBy("user_id").orderBy("day")
    g = d.withColumn("grp", F.date_sub(F.col("day"), F.row_number().over(w)))
    return g.groupBy("user_id", "grp").agg(
        F.min("day").alias("streak_start"),
        F.max("day").alias("streak_end"),
        F.count(F.lit(1)).alias("streak_days"),
    ).drop("grp")


@query(
    "pct_of_total",
    """
    WITH g AS (
      SELECT l_returnflag, l_linestatus,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
      FROM lineitem GROUP BY l_returnflag, l_linestatus
    )
    SELECT l_returnflag, l_linestatus, revenue,
           round(revenue / SUM(revenue) OVER (), 6) AS pct_total,
           round(revenue / SUM(revenue) OVER (PARTITION BY l_returnflag), 6)
             AS pct_of_flag
    FROM g
    """,
)
def pct_of_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percent-of-total / ratio-to-report: share of overall and of the
    group's parent level via unpartitioned + partitioned window sums —
    computed over the 6-row AGGREGATE, so the 'global window' touches
    six rows, not the input (never window the raw fact table for a
    ratio you can take after aggregating)."""
    li = _t(spark, sf_dir, "lineitem")
    g = li.groupBy("l_returnflag", "l_linestatus").agg(
        F.sum(_dec("l_extendedprice")).cast("double").alias("revenue")
    )
    w_all = Window.partitionBy()
    w_flag = Window.partitionBy("l_returnflag")
    return g.select(
        "l_returnflag", "l_linestatus", "revenue",
        F.round(F.col("revenue") / F.sum("revenue").over(w_all), 6).alias("pct_total"),
        F.round(F.col("revenue") / F.sum("revenue").over(w_flag), 6).alias("pct_of_flag"),
    )


@query(
    "array_set_ops",
    """
    WITH t AS (
      SELECT doc_id,
             list_distinct(list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '')) AS words,
             list_distinct(list_filter(string_split_regex(trim(lower(text)), '\\s+'), x -> x <> '')) AS lwords
    FROM documents
    )
    SELECT doc_id,
           array_to_string(list_sort(list_intersect(words, lwords)), ',') AS common,
           CAST(len(list_intersect(words, lwords)) AS INTEGER) AS n_common,
           CAST(len(words) AS INTEGER) AS n_words
    FROM t
    """,
)
def array_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-row array set algebra (intersect/size) — the list-typed column
    surface; arrays stay row-local (no explode, no shuffle), serialized
    to strings for the exact-hash gate."""
    d = _t(spark, sf_dir, "documents")
    words = F.array_distinct(F.split(F.trim(F.col("text")), r"\s+"))
    lwords = F.array_distinct(F.split(F.trim(F.lower(F.col("text"))), r"\s+"))
    common = F.array_intersect(words, lwords)
    return d.select(
        "doc_id",
        F.array_join(F.array_sort(common), ",").alias("common"),
        F.size(common).alias("n_common"),
        F.size(words).alias("n_words"),
    )


@query(
    "regexp_extract_numbers",
    """
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '[0-9]+')) AS INTEGER) AS n_numbers,
           COALESCE(array_to_string(regexp_extract_all(text, '[0-9]+'), ','), '')
             AS numbers
    FROM documents
    """,
)
def regexp_extract_numbers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """regexp_extract_all surface: every numeric token per document,
    counted and serialized — pure codegen scan work."""
    d = _t(spark, sf_dir, "documents")
    nums = F.regexp_extract_all(F.col("text"), F.lit("[0-9]+"), 0)
    return d.select(
        "doc_id",
        F.size(nums).alias("n_numbers"),
        F.array_join(nums, ",").alias("numbers"),
    )


@query(
    "incremental_agg_merge",
    """
    WITH base AS (
      SELECT o_orderpriority, COUNT(*) AS n,
             SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS s
      FROM orders WHERE o_orderdate < TIMESTAMP '2000-01-01'
      GROUP BY o_orderpriority
    ), delta AS (
      SELECT o_orderpriority, COUNT(*) AS n,
             SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS s
      FROM orders WHERE o_orderdate >= TIMESTAMP '2000-01-01'
      GROUP BY o_orderpriority
    ), merged AS (
      SELECT o_orderpriority,
             CAST(SUM(n) AS BIGINT) AS n,
             SUM(s) AS s
      FROM (SELECT * FROM base UNION ALL SELECT * FROM delta)
      GROUP BY o_orderpriority
    )
    SELECT o_orderpriority, n,
           CAST(s AS DOUBLE) AS total_price,
           round(CAST(s AS DOUBLE) / n, 6) AS avg_price
    FROM merged
    """,
)
def incremental_agg_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental aggregate maintenance — the mergeable-partials
    pattern every incremental ETL relies on: a historical partial
    aggregate (count + decimal-exact sum per key) merged with a fresh
    delta partition's partials WITHOUT re-scanning history. Count and
    sum are mergeable; avg derives at read time from the merged
    moments. The oracle recomputes the same merge; equality proves the
    partials lose nothing."""
    o = _t(spark, sf_dir, "orders")
    cutoff = F.lit("2000-01-01").cast("timestamp_ntz")

    def partial(df):
        return df.groupBy("o_orderpriority").agg(
            F.count(F.lit(1)).alias("n"), F.sum(_dec("o_totalprice")).alias("s")
        )

    base = partial(o.filter(F.col("o_orderdate") < cutoff))
    delta = partial(o.filter(F.col("o_orderdate") >= cutoff))
    merged = (
        base.unionByName(delta)
        .groupBy("o_orderpriority")
        .agg(F.sum("n").alias("n"), F.sum("s").alias("s"))
    )
    return merged.select(
        "o_orderpriority",
        "n",
        F.col("s").cast("double").alias("total_price"),
        F.round(F.col("s").cast("double") / F.col("n"), 6).alias("avg_price"),
    )


STREAM_STREAM_JOIN_ORACLE = """
    WITH l AS (
      SELECT user_id, ts, value FROM events WHERE event_type = 'click'
    ), r AS (
      SELECT user_id AS r_user_id, ts AS r_ts, value AS r_value
      FROM events WHERE event_type = 'purchase'
    )
    SELECT l.user_id, l.ts, l.value, r.r_ts, r.r_value
    FROM l JOIN r ON l.user_id = r.r_user_id
      AND r.r_ts >= l.ts AND r.r_ts <= l.ts + INTERVAL 2 HOUR
"""


@query("stream_stream_join_batch", STREAM_STREAM_JOIN_ORACLE)
def _stream_stream_join_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of streaming.stream_stream_interval_join (the
    click→purchase attribution shape): same code path the streaming
    parity test drives with real micro-batches."""
    from knime_core_columnar_spark.streaming.ops import (
        stream_stream_interval_join,
    )

    ev = _t(spark, sf_dir, "events")
    left = ev.filter(F.col("event_type") == "click").select("user_id", "ts", "value")
    right = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "value"
    )
    return stream_stream_interval_join(left, right, on="user_id", within="2 hours")


JOIN_EXPLOSION_ORACLE = """
    WITH l AS (
      SELECT CAST(event_type AS VARCHAR) AS key, COUNT(*) AS n_left
      FROM events GROUP BY 1
    ), r AS (
      SELECT CAST(event_type AS VARCHAR) AS key, COUNT(*) AS n_right
      FROM events GROUP BY 1
    ), t AS (
      SELECT CAST((SELECT COUNT(*) FROM events) // 128 AS BIGINT) AS thr
    )
    SELECT l.key, CAST(l.n_left AS BIGINT) AS n_left,
           CAST(r.n_right AS BIGINT) AS n_right,
           CAST(l.n_left * r.n_right AS BIGINT) AS n_output_rows,
           CAST(ceil(CAST(l.n_left * r.n_right AS DOUBLE) / 5000000.0) AS INTEGER)
             AS salt_factor
    FROM l JOIN r USING (key), t
    WHERE l.n_left >= greatest(50, t.thr) AND r.n_right >= greatest(50, t.thr)
"""


@query("join_explosion_profile", JOIN_EXPLOSION_ORACLE)
def _join_explosion_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-size pre-flight (operators.relational.join_explosion_profile):
    which keys of a planned events⋈events stream-stream self-join would
    explode? Both sides scanned with Misra-Gries-bounded state + exact
    recount — never a full GROUP BY of the fact table; output is exact
    (every key heavy on BOTH sides, exact counts, exact row product,
    suggested salt fan-out). Thresholds scale with the table so the
    same query is sound at every sf."""
    from knime_core_columnar_spark.operators.relational import (
        join_explosion_profile,
    )

    e = _t(spark, sf_dir, "events")
    n = _table_meta(spark, sf_dir, "events").rows
    thr = max(50, n // 128)
    return join_explosion_profile(
        e, e, "event_type", "event_type", min_left=thr, min_right=thr,
        capacity=256, left_total=n, right_total=n,
    )


CDC_APPLY_ORACLE = """
    WITH base AS (
      SELECT event_id, ts, user_id, value FROM (
        SELECT event_id, ts, user_id, value,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY ts DESC, event_id DESC) AS rk
        FROM events WHERE ts < TIMESTAMP '2024-01-15'
      ) WHERE rk = 1
    ), ch AS (
      SELECT event_id, ts, user_id, value,
             CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op
      FROM events WHERE ts >= TIMESTAMP '2024-01-15'
    ), latest AS (
      SELECT * FROM (
        SELECT ch.*, ROW_NUMBER() OVER (PARTITION BY user_id
                                        ORDER BY ts DESC, event_id DESC) AS rk
        FROM ch
      ) WHERE rk = 1
    )
    SELECT event_id, ts, user_id, value
    FROM base WHERE user_id NOT IN (SELECT user_id FROM latest)
    UNION ALL
    SELECT event_id, ts, user_id, value FROM latest WHERE op <> 'D'
"""


@query("cdc_apply_changelog", CDC_APPLY_ORACLE)
def _cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC changelog replay (operators.relational.apply_changelog): the
    base snapshot is each user's last event before Jan 15; events from
    Jan 15 on replay as a changelog where 'error' means DELETE and
    anything else upserts. Winner per key = greatest (ts, event_id) —
    a total order, so the final state is engine- and partitioning-
    exact. One window over the changelog only; base rows join, never
    window."""
    from knime_core_columnar_spark.operators.relational import apply_changelog
    from pyspark.sql import Window

    e = _t(spark, sf_dir, "events")
    cutoff = F.lit("2024-01-15").cast("timestamp")
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    base = (
        e.filter(F.col("ts") < cutoff)
        .withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") == 1)
        .select("event_id", "ts", "user_id", "value")
    )
    changelog = e.filter(F.col("ts") >= cutoff).select(
        "event_id", "ts", "user_id", "value",
        F.when(F.col("event_type") == "error", F.lit("D"))
        .otherwise(F.lit("U")).alias("op"),
    )
    return apply_changelog(
        base, changelog, keys=["user_id"], op_col="op",
        seq_cols=["ts", "event_id"],
    )
