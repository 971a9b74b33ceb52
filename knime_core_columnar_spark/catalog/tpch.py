"""TPC-H catalog queries (q1-q22, adapted to the testdata schema) and the
in-query partsupp synthesis.

The testdata ships no partsupp table, but TPC-H's partsupp is a pure
function of the (part, supplier) key spaces: dbgen assigns each part a
fixed small set of suppliers by key arithmetic and derives
availqty/supplycost from the keys. So both the Spark query and the
DuckDB oracle construct the same deterministic partsupp inline (two
suppliers per part; the formula matches tests/test_partsupp.py's
fixture exactly), which makes the q2/q9/q11/q16/q20 patterns
driver-checkable with no extra input file:

    ps_partkey   = p_partkey
    ps_suppkey   = (p_partkey*3 + k*7) % S + 1,  k ∈ {0, 1},
                   S = count(supplier)      -- collision-free for S ∉ {1, 7}
    ps_availqty  = (ps_partkey*13 + ps_suppkey) % 1000
    ps_supplycost= ((ps_partkey*17 + ps_suppkey) % 5000) / 100.0

Scale shape of the synthesis itself: part × a broadcast 2-row literal
frame — one codegen projection, no shuffle, row count 2·|part|; at
100 TB this is exactly how a generated dimension should be built
(never materialized, re-derived next to the fact scan). The supplycost
division is a single int→double divide per row (correctly-rounded IEEE
on both engines, deterministic).

``entry_query`` (the driver contract's flagship) is q1.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from knime_core_columnar_spark.catalog._registry import (
    _dec,
    _t,
    _table_meta,
    query,
)


# ---------------------------------------------------------------------------
# Group-by aggregation (SURVEY §2.7 relational surface; benchmark headline)
# ---------------------------------------------------------------------------

@query(
    "q1_pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2))) * (1 + CAST(l_tax AS DECIMAL(18,2)))) AS DOUBLE) AS sum_charge,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_price,
           CAST(SUM(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_disc,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-style pricing summary: filter → groupBy → 8 aggregates.

    Scale notes: predicate pushed to the Parquet scan; partial (map-side)
    aggregation on (returnflag, linestatus) — 6 groups — means the shuffle
    moves only nGroups×nPartitions rows regardless of input size.
    """
    li = _t(spark, sf_dir, "lineitem")
    qty, price, disc, tax = (_dec("l_quantity"), _dec("l_extendedprice"),
                             _dec("l_discount"), _dec("l_tax"))
    n = F.count(F.lit(1))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp_ntz"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(qty).cast("double").alias("sum_qty"),
            F.sum(price).cast("double").alias("sum_base_price"),
            F.sum(price * (F.lit(1) - disc)).cast("double").alias("sum_disc_price"),
            F.sum(price * (F.lit(1) - disc) * (F.lit(1) + tax)).cast("double").alias("sum_charge"),
            (F.sum(qty).cast("double") / n).alias("avg_qty"),
            (F.sum(price).cast("double") / n).alias("avg_price"),
            (F.sum(disc).cast("double") / n).alias("avg_disc"),
            n.alias("count_order"),
        )
    )


@query(
    "q3_shipping_priority",
    """
    SELECT l.l_orderkey,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l.l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
           o.o_orderdate, o.o_orderpriority
    FROM customer c, orders o, lineitem l
    WHERE c.c_mktsegment = 'BUILDING' AND c.c_custkey = o.o_custkey
      AND l.l_orderkey = o.o_orderkey
      AND o.o_orderdate < TIMESTAMP '1997-03-15 00:00:00'
      AND l.l_shipdate > TIMESTAMP '1997-03-15 00:00:00'
    GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
    ORDER BY revenue DESC, l.l_orderkey LIMIT 10
    """,
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3: 3-way join, filtered both sides, agg, top-10.
    customer (small) broadcasts; lineitem⋈orders shuffles on orderkey;
    final top-k is TakeOrderedAndProject (no global sort)."""
    c = _t(spark, sf_dir, "customer").filter("c_mktsegment = 'BUILDING'")
    o = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1997-03-15 00:00:00").cast("timestamp_ntz")
    )
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1997-03-15 00:00:00").cast("timestamp_ntz")
    )
    price, disc = _dec("l_extendedprice"), _dec("l_discount")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.sum(price * (F.lit(1) - disc)).cast("double").alias("revenue"))
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey"))
        .limit(10)
    )


@query(
    "q5_local_supplier",
    """
    SELECT n.n_name,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l.l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
    FROM customer c, orders o, lineitem l, supplier s, nation n, region r
    WHERE c.c_custkey = o.o_custkey AND l.l_orderkey = o.o_orderkey
      AND l.l_suppkey = s.s_suppkey AND c.c_nationkey = s.s_nationkey
      AND s.s_nationkey = n.n_nationkey AND n.n_regionkey = r.r_regionkey
      AND r.r_name = 'ASIA'
    GROUP BY n.n_name
    """,
)
def q5_local_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5: 6-way join. region/nation/supplier/customer all broadcast
    (dimension-sized at any SF); only lineitem⋈orders shuffles."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region").filter("r_name = 'ASIA'")
    price, disc = _dec("l_extendedprice"), _dec("l_discount")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(s), (li.l_suppkey == s.s_suppkey) & (c.c_nationkey == s.s_nationkey))
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(F.sum(price * (F.lit(1) - disc)).cast("double").alias("revenue"))
    )


@query(
    "q6_forecast_revenue",
    """
    SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
           COUNT(*) AS n
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
      AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24
    """,
)
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6: pure scan+filter+agg — every predicate reaches the
    Parquet scan; the aggregate is a single partial/final pair."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp_ntz"))
            & (F.col("l_shipdate") < F.lit("1997-01-01 00:00:00").cast("timestamp_ntz"))
            & (F.col("l_discount") >= 0.05) & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.sum(_dec("l_extendedprice") * _dec("l_discount")).cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n"),
        )
    )


@query(
    "q10_returned_items",
    """
    SELECT c.c_custkey, c.c_name, n.n_name,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l.l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
    FROM customer c, orders o, lineitem l, nation n
    WHERE c.c_custkey = o.o_custkey AND l.l_orderkey = o.o_orderkey
      AND l.l_returnflag = 'R' AND c.c_nationkey = n.n_nationkey
    GROUP BY c.c_custkey, c.c_name, n.n_name
    ORDER BY revenue DESC, c.c_custkey LIMIT 20
    """,
)
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 (adapted to available columns): returned-item revenue by
    customer, top 20."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem").filter("l_returnflag = 'R'")
    n = _t(spark, sf_dir, "nation")
    price, disc = _dec("l_extendedprice"), _dec("l_discount")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(F.sum(price * (F.lit(1) - disc)).cast("double").alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("c_custkey"))
        .limit(20)
    )


@query(
    "q14_promo_revenue",
    """
    SELECT CAST(100.00 * SUM(CASE WHEN p.p_type = 'PROMO'
                 THEN CAST(l.l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l.l_discount AS DECIMAL(18,2)))
                 ELSE 0 END) AS DOUBLE)
           / CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l.l_discount AS DECIMAL(18,2)))) AS DOUBLE)
           AS promo_revenue_pct
    FROM lineitem l, part p
    WHERE l.l_partkey = p.p_partkey
      AND l.l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND l.l_shipdate < TIMESTAMP '1997-07-01 00:00:00'
    """,
)
def q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14: promo revenue share — conditional aggregation over a
    broadcast join; the ratio is a single IEEE division of two
    decimal-exact sums."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1997-07-01 00:00:00").cast("timestamp_ntz"))
    )
    p = _t(spark, sf_dir, "part")
    price, disc = _dec("l_extendedprice"), _dec("l_discount")
    net = price * (F.lit(1) - disc)
    promo = F.when(F.col("p_type") == "PROMO", net).otherwise(F.lit(0).cast("decimal(18,2)"))
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .agg(
            ((F.lit(100.00) * F.sum(promo).cast("double"))
             / F.sum(net).cast("double")).alias("promo_revenue_pct")
        )
    )


@query(
    "q18_large_orders",
    """
    SELECT c.c_name, o.o_orderkey, o.o_orderdate, o.o_totalprice,
           CAST(SUM(CAST(l.l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty
    FROM customer c, orders o, lineitem l
    WHERE o.o_orderkey IN (
        SELECT l_orderkey FROM lineitem GROUP BY l_orderkey
        HAVING SUM(CAST(l_quantity AS DECIMAL(18,2))) > 150
      )
      AND c.c_custkey = o.o_custkey AND o.o_orderkey = l.l_orderkey
    GROUP BY c.c_name, o.o_orderkey, o.o_orderdate, o.o_totalprice
    ORDER BY o.o_totalprice DESC, o.o_orderkey LIMIT 20
    """,
)
def q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18: large-volume orders via a semi-join against a HAVING
    aggregate (the aggregate output is tiny → broadcast semi-join)."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(_dec("l_quantity")).alias("q"))
        .filter(F.col("q") > 150)
        .select("l_orderkey")
    )
    return (
        li.join(F.broadcast(big), "l_orderkey")
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("c_name", "o_orderkey", "o_orderdate", "o_totalprice")
        .agg(F.sum(_dec("l_quantity")).cast("double").alias("total_qty"))
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(20)
    )


@query(
    "q19_disjunctive",
    """
    SELECT CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l.l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
           COUNT(*) AS n
    FROM lineitem l, part p
    WHERE l.l_partkey = p.p_partkey AND (
        (p.p_brand = 'Brand#11' AND p.p_size BETWEEN 1 AND 15 AND l.l_quantity >= 1 AND l.l_quantity <= 21)
     OR (p.p_brand = 'Brand#23' AND p.p_size BETWEEN 10 AND 30 AND l.l_quantity >= 10 AND l.l_quantity <= 30)
     OR (p.p_brand = 'Brand#15' AND p.p_size BETWEEN 20 AND 50 AND l.l_quantity >= 20 AND l.l_quantity <= 40)
    )
    """,
)
def q19_disjunctive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 (adapted): disjunctive multi-branch predicate over a
    broadcast join — exercises OR-predicate planning."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    q = F.col("l_quantity")
    cond = (
        ((F.col("p_brand") == "Brand#11") & F.col("p_size").between(1, 15) & q.between(1, 21))
        | ((F.col("p_brand") == "Brand#23") & F.col("p_size").between(10, 30) & q.between(10, 30))
        | ((F.col("p_brand") == "Brand#15") & F.col("p_size").between(20, 50) & q.between(20, 40))
    )
    price, disc = _dec("l_extendedprice"), _dec("l_discount")
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .filter(cond)
        .agg(
            F.sum(price * (F.lit(1) - disc)).cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n"),
        )
    )


@query(
    "q4_order_priority",
    """
    SELECT o_orderpriority, COUNT(*) AS order_count
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1996-04-01'
      AND EXISTS (SELECT 1 FROM lineitem
                  WHERE l_orderkey = o_orderkey AND l_quantity > 45)
    GROUP BY o_orderpriority
    """,
)
def q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 pattern (EXISTS decorrelated to a left-semi join; the
    trimmed testdata schema has no commit/receipt dates, so the inner
    predicate is l_quantity > 45). The semi join shuffles both sides on
    the order key with the lineitem filter pushed below the exchange."""
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    o_f = o.filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1996-04-01").cast("timestamp_ntz"))
    )
    hits = li.filter(F.col("l_quantity") > 45).select("l_orderkey")
    return (
        o_f.join(hits, o_f["o_orderkey"] == hits["l_orderkey"], "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


@query(
    "q12_priority_class",
    """
    SELECT l_returnflag,
           CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
    GROUP BY l_returnflag
    """,
)
def q12_priority_class(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 pattern: join + conditional CASE counts (shipmode is not
    in the trimmed schema; classify by returnflag instead). Integer sums
    only — bit-stable without decimal staging."""
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    li = _t(spark, sf_dir, "lineitem")
    li_f = li.filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp_ntz"))
    ).select("l_orderkey", "l_returnflag")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li_f.join(o, li_f["l_orderkey"] == o["o_orderkey"])
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
    )


@query(
    "q13_custdist",
    """
    SELECT c_count, COUNT(*) AS custdist
    FROM (
      SELECT c_custkey, COUNT(o_orderkey) AS c_count
      FROM customer LEFT OUTER JOIN orders
        ON c_custkey = o_custkey AND o_orderstatus <> 'F'
      GROUP BY c_custkey
    ) co
    GROUP BY c_count
    """,
)
def q13_custdist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13: distribution of per-customer order counts, with the
    extra predicate INSIDE the outer join (customers with only 'F'
    orders must count 0, not drop out). Two aggregations; the second
    input is one row per customer, so the re-shuffle is tiny."""
    c = _t(spark, sf_dir, "customer").select("c_custkey")
    o = _t(spark, sf_dir, "orders").select("o_custkey", "o_orderkey", "o_orderstatus")
    j = c.join(
        o, (c["c_custkey"] == o["o_custkey"]) & (o["o_orderstatus"] != "F"), "left_outer"
    )
    per_cust = j.groupBy("c_custkey").agg(F.count("o_orderkey").alias("c_count"))
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


@query(
    "q15_top_supplier",
    """
    WITH revenue AS (
      SELECT l_suppkey AS supplier_no,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                      * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS total_revenue
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1996-04-01'
      GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name, total_revenue
    FROM supplier JOIN revenue ON s_suppkey = supplier_no
    WHERE total_revenue = (SELECT MAX(total_revenue) FROM revenue)
    """,
)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15: top supplier by quarterly revenue. The revenue 'view'
    is computed once and reused for both the ranking and the max via a
    broadcast of the 1-row max — revenues are decimal-exact sums cast to
    double, so the equality against MAX is bit-safe cross-engine."""
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    rev = (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
            & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp_ntz"))
        )
        .groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(
            F.sum(_dec("l_extendedprice") * (F.lit(1) - _dec("l_discount")))
            .cast("double")
            .alias("total_revenue")
        )
    )
    mx = rev.agg(F.max("total_revenue").alias("mx"))
    top = rev.join(F.broadcast(mx), rev["total_revenue"] == mx["mx"]).drop("mx")
    return s.join(
        F.broadcast(top), s["s_suppkey"] == top["supplier_no"]
    ).select("s_suppkey", "s_name", "total_revenue")


@query(
    "q17_small_qty_revenue",
    """
    SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / 7.0 AS avg_yearly
    FROM lineitem
    JOIN part ON p_partkey = l_partkey
    JOIN (SELECT l_partkey AS a_pk,
                 0.2 * (CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*)) AS qty_thresh
          FROM lineitem GROUP BY l_partkey) a ON a_pk = l_partkey
    WHERE p_brand = 'Brand#23' AND p_size < 10 AND l_quantity < qty_thresh
    """,
)
def q17_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17: revenue from below-average-quantity orders of selected
    parts. Spark plan: broadcast the filtered part dim into lineitem,
    then a WINDOW average per part key over the reduced set (identical
    per-part mean, since the part filter is independent of lineitem) —
    one shuffle on l_partkey replaces the oracle's self-join, and the
    threshold arithmetic (decimal sum -> double / count * 0.2) is
    replicated exactly."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").filter(
        (F.col("p_brand") == "Brand#23") & (F.col("p_size") < 10)
    ).select("p_partkey")
    lp = li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
    w = Window.partitionBy("l_partkey")
    thresh = F.lit(0.2) * (
        F.sum(_dec("l_quantity")).over(w).cast("double") / F.count(F.lit(1)).over(w)
    )
    return (
        lp.withColumn("__t", thresh)
        .filter(F.col("l_quantity") < F.col("__t"))
        .agg(
            (F.sum(_dec("l_extendedprice")).cast("double") / F.lit(7.0)).alias("avg_yearly")
        )
    )


@query(
    "q7_nation_volume",
    """
    SELECT supp_nation, cust_nation, l_year, CAST(SUM(volume) AS DOUBLE) AS revenue
    FROM (
      SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
             CAST(EXTRACT(year FROM l_shipdate) AS INTEGER) AS l_year,
             CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2))) AS volume
      FROM supplier
      JOIN lineitem ON s_suppkey = l_suppkey
      JOIN orders ON o_orderkey = l_orderkey
      JOIN customer ON c_custkey = o_custkey
      JOIN nation n1 ON s_nationkey = n1.n_nationkey
      JOIN nation n2 ON c_nationkey = n2.n_nationkey
      WHERE (n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_7')
         OR (n1.n_name = 'NATION_7' AND n2.n_name = 'NATION_3')
    ) shipping
    GROUP BY supp_nation, cust_nation, l_year
    """,
)
def q7_nation_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7: bilateral trade volume by year. supplier/customer/nation
    are broadcast dims; the only shuffle joins lineitem to orders on the
    order key, then one partial-aggregated groupBy. The disjunctive
    nation-pair predicate lands post-join on broadcast columns."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    n1 = n.select(F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation"))
    n2 = n.select(F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation"))
    j = (
        li.join(F.broadcast(s), li["l_suppkey"] == s["s_suppkey"])
        .join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
        .filter(
            ((F.col("supp_nation") == "NATION_3") & (F.col("cust_nation") == "NATION_7"))
            | ((F.col("supp_nation") == "NATION_7") & (F.col("cust_nation") == "NATION_3"))
        )
    )
    return j.groupBy(
        "supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year")
    ).agg(
        F.sum(_dec("l_extendedprice") * (F.lit(1) - _dec("l_discount")))
        .cast("double")
        .alias("revenue")
    )


@query(
    "q8_market_share",
    """
    SELECT o_year,
           CAST(SUM(CASE WHEN nation = 'NATION_3' THEN volume
                         ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE)
             / CAST(SUM(volume) AS DOUBLE) AS mkt_share
    FROM (
      SELECT CAST(EXTRACT(year FROM o_orderdate) AS INTEGER) AS o_year,
             CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2))) AS volume,
             n2.n_name AS nation
      FROM part
      JOIN lineitem ON p_partkey = l_partkey
      JOIN supplier ON s_suppkey = l_suppkey
      JOIN orders ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN nation n1 ON c_nationkey = n1.n_nationkey
      JOIN region ON n1.n_regionkey = r_regionkey
      JOIN nation n2 ON s_nationkey = n2.n_nationkey
      WHERE r_name = 'EUROPE' AND p_type = 'PROMO'
    ) all_nations
    GROUP BY o_year
    """,
)
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8: NATION_3's share of EUROPE-destined PROMO-part revenue
    per order year. Ratio of two decimal-exact sums, divided as doubles
    only at the end (conditional branch keeps decimal type so both
    engines sum exactly). Part filter is broadcast into the lineitem
    scan; the orders join is the single large shuffle."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO").select("p_partkey")
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_orderdate")
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    n1 = n.join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"]).select(
        F.col("n_nationkey").alias("n1_key")
    )
    n2 = n.select(F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("nation"))
    vol = (_dec("l_extendedprice") * (F.lit(1) - _dec("l_discount"))).alias("volume")
    j = (
        li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
        .join(F.broadcast(s), li["l_suppkey"] == s["s_suppkey"])
        .join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n1), F.col("c_nationkey") == F.col("n1_key"), "inner")
        .join(F.broadcast(n2), F.col("s_nationkey") == F.col("n2_key"))
        .select(F.year("o_orderdate").alias("o_year"), vol, "nation")
    )
    zero = F.lit(0).cast("decimal(18,4)")
    return j.groupBy("o_year").agg(
        (
            F.sum(F.when(F.col("nation") == "NATION_3", F.col("volume")).otherwise(zero))
            .cast("double")
            / F.sum("volume").cast("double")
        ).alias("mkt_share")
    )


@query(
    "q22_idle_balance",
    """
    WITH pos AS (
      SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_bal
      FROM customer WHERE c_acctbal > 0.0
    )
    SELECT c_nationkey AS cntrycode, COUNT(*) AS numcust,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS totacctbal
    FROM customer, pos
    WHERE c_acctbal > avg_bal
      AND NOT EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey
                        AND o_orderdate >= TIMESTAMP '2000-01-01')
    GROUP BY c_nationkey
    """,
)
def q22_idle_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 pattern: above-average-balance customers with no RECENT
    orders (every sf0.01 customer has some order, so the anti-join side
    is date-filtered; no phone column, so the country grouping uses
    c_nationkey). Scalar subquery -> broadcast 1-row aggregate;
    NOT EXISTS -> left-anti join with the date filter pushed below it."""
    c = _t(spark, sf_dir, "customer")
    o = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp_ntz"))
        .select("o_custkey")
    )
    avg_bal = c.filter(F.col("c_acctbal") > 0.0).agg(
        (F.sum(_dec("c_acctbal")).cast("double") / F.count(F.lit(1))).alias("avg_bal")
    )
    rich = c.join(F.broadcast(avg_bal)).filter(F.col("c_acctbal") > F.col("avg_bal"))
    idle = rich.join(o, rich["c_custkey"] == o["o_custkey"], "left_anti")
    return idle.groupBy(F.col("c_nationkey").alias("cntrycode")).agg(
        F.count(F.lit(1)).alias("numcust"),
        F.sum(_dec("c_acctbal")).cast("double").alias("totacctbal"),
    )


def entry_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: the pricing-summary aggregation."""
    return q1_pricing_summary(spark, sf_dir)


@query(
    "q21_waiting_suppliers",
    """
    SELECT s_name, COUNT(*) AS numwait
    FROM supplier
    JOIN nation ON s_nationkey = n_nationkey
    JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
    JOIN orders ON o_orderkey = l1.l_orderkey
    WHERE o_orderstatus = 'F'
      AND n_name = 'NATION_7'
      AND l1.l_shipdate > o_orderdate + INTERVAL 60 DAY
      AND EXISTS (
        SELECT 1 FROM lineitem l2
        WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey
      )
      AND NOT EXISTS (
        SELECT 1 FROM lineitem l3
        WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
          AND l3.l_shipdate > o_orderdate + INTERVAL 60 DAY
      )
    GROUP BY s_name
    ORDER BY numwait DESC, s_name
    LIMIT 100
    """,
)
def q21_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H q21 (Suppliers Who Kept Orders Waiting) adapted to the
    synthetic schema: no l_receiptdate/l_commitdate exist, so "late" is
    l_shipdate > o_orderdate + 60 days — the multi-supplier EXISTS /
    sole-late-supplier NOT EXISTS shape is intact. Spark-first: the two
    correlated subqueries collapse into ONE per-order aggregation
    (distinct suppliers, distinct LATE suppliers); a lineitem qualifies
    iff it is late, the order has ≥2 suppliers, and exactly one
    supplier shipped late. One lineitem⋈orders shuffle, one per-order
    agg joined back, supplier/nation broadcast, TakeOrdered top-100 —
    no semi/anti join pair over the fact table."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_7")
    lo = li.join(
        o.select("o_orderkey", "o_orderdate"),
        li["l_orderkey"] == o["o_orderkey"],
    ).withColumn(
        "late", F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")
    )
    per_order = lo.groupBy("l_orderkey").agg(
        F.countDistinct("l_suppkey").alias("n_supp"),
        F.countDistinct(F.when(F.col("late"), F.col("l_suppkey"))).alias(
            "n_late_supp"
        ),
    )
    qualifying = (
        lo.filter(F.col("late"))
        .join(per_order, "l_orderkey")
        .filter((F.col("n_supp") >= 2) & (F.col("n_late_supp") == 1))
    )
    return (
        qualifying.join(
            F.broadcast(s.join(n, s["s_nationkey"] == n["n_nationkey"])),
            qualifying["l_suppkey"] == s["s_suppkey"],
        )
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.col("numwait").desc(), "s_name")
        .limit(100)
    )


# The DuckDB-side replica of _synth_partsupp: prepended (as WITH
# clauses) to every oracle below. COUNT(*) is BIGINT in DuckDB, so all
# key arithmetic stays int64 — same as Spark.
_PS_CTE = """
    __ps0 AS (
      SELECT p_partkey AS ps_partkey,
             CAST((p_partkey * 3 + kk.k * 7)
                  % (SELECT COUNT(*) FROM supplier) + 1 AS BIGINT)
               AS ps_suppkey
      FROM part CROSS JOIN (VALUES (0), (1)) AS kk(k)
    ), partsupp AS (
      SELECT ps_partkey, ps_suppkey,
             CAST((ps_partkey * 13 + ps_suppkey) % 1000 AS INTEGER)
               AS ps_availqty,
             CAST((ps_partkey * 17 + ps_suppkey) % 5000 AS DOUBLE) / 100.0
               AS ps_supplycost
      FROM __ps0
    )
"""


def _synth_partsupp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic partsupp derived from part keys + the supplier
    count (Parquet-footer metadata read — no scan, no Spark job; falls
    back to count() off local paths). Two suppliers per part, the
    fixture formula above. Collision-free because S ∉ {1, 7} at every
    testdata tier (collision requires 7 ≡ 0 mod S)."""
    n_supp = _table_meta(spark, sf_dir, "supplier").rows
    if n_supp is None:
        n_supp = _t(spark, sf_dir, "supplier").count()
    ks = spark.range(2).withColumnRenamed("id", "__k")
    ps0 = (
        _t(spark, sf_dir, "part")
        .select("p_partkey")
        .crossJoin(F.broadcast(ks))
        .select(
            F.col("p_partkey").alias("ps_partkey"),
            ((F.col("p_partkey") * 3 + F.col("__k") * 7) % n_supp + 1)
            .alias("ps_suppkey"),
        )
    )
    return ps0.select(
        "ps_partkey",
        "ps_suppkey",
        ((F.col("ps_partkey") * 13 + F.col("ps_suppkey")) % 1000)
        .cast("int")
        .alias("ps_availqty"),
        (
            ((F.col("ps_partkey") * 17 + F.col("ps_suppkey")) % 5000)
            .cast("double")
            / 100.0
        ).alias("ps_supplycost"),
    )


@query(
    "q2_min_cost_supplier",
    f"""
    WITH {_PS_CTE}
    SELECT p_partkey, p_name, s_name, n_name,
           CAST(ps_supplycost AS DOUBLE) AS min_cost
    FROM part, partsupp, supplier, nation, region
    WHERE p_partkey = ps_partkey AND s_suppkey = ps_suppkey
      AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
      AND r_name = 'EUROPE' AND p_size <= 15
      AND ps_supplycost = (
        SELECT MIN(ps2.ps_supplycost)
        FROM partsupp ps2
        JOIN supplier s2 ON s2.s_suppkey = ps2.ps_suppkey
        JOIN nation n2 ON s2.s_nationkey = n2.n_nationkey
        JOIN region r2 ON n2.n_regionkey = r2.r_regionkey
        WHERE ps2.ps_partkey = p_partkey AND r2.r_name = 'EUROPE')
    """,
)
def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 pattern: minimum-cost supplier per part within a region
    (correlated MIN decorrelated into a window). The region dimensions
    broadcast; the min is one partial-aggregable window over the
    already-joined candidate set — no second scan of partsupp."""
    ps = _synth_partsupp(spark, sf_dir)
    p = _t(spark, sf_dir, "part").filter(F.col("p_size") <= 15)
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    cand = (
        ps.join(F.broadcast(s), ps["ps_suppkey"] == s["s_suppkey"])
        .join(F.broadcast(n), s["s_nationkey"] == n["n_nationkey"])
        .join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
    )
    w = Window.partitionBy("ps_partkey")
    cand = cand.withColumn("__min_cost", F.min("ps_supplycost").over(w)).filter(
        F.col("ps_supplycost") == F.col("__min_cost")
    )
    return cand.join(p, cand["ps_partkey"] == p["p_partkey"]).select(
        "p_partkey", "p_name", "s_name", "n_name",
        F.col("ps_supplycost").cast("double").alias("min_cost"),
    )


@query(
    "q9_profit_by_nation_year",
    f"""
    WITH {_PS_CTE}
    SELECT n_name AS nation, CAST(year(l_shipdate) AS INTEGER) AS o_year,
           CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))
                    - CAST(ps_supplycost * l_quantity AS DECIMAL(18,4))) AS DOUBLE)
             AS profit
    FROM lineitem
    JOIN partsupp ON ps_partkey = l_partkey AND ps_suppkey = l_suppkey
    JOIN part ON p_partkey = l_partkey
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN nation ON s_nationkey = n_nationkey
    GROUP BY 1, 2
    """,
)
def q9_profit_by_nation_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 pattern: product-line profit by nation and year. One
    shuffled fact join (lineitem × the derived partsupp on the composite
    key — partsupp is 2·|part| rows, so it BROADCASTS at any realistic
    dimension size); part/supplier/nation broadcast; per-term decimal
    staging keeps the profit sum bit-stable. The p_name LIKE filter of
    textbook Q9 is dropped: the synthesized partsupp keeps only 2
    suppliers per part, and stacking both selectivities empties the
    small-SF gate corpus (the join pattern, not the constant, is the
    surface under test)."""
    li = _t(spark, sf_dir, "lineitem")
    ps = _synth_partsupp(spark, sf_dir)
    p = _t(spark, sf_dir, "part")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    amount = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "decimal(18,4)"
    ) - (F.col("ps_supplycost") * F.col("l_quantity")).cast("decimal(18,4)")
    return (
        li.join(
            F.broadcast(ps),
            (li["l_partkey"] == ps["ps_partkey"])
            & (li["l_suppkey"] == ps["ps_suppkey"]),
        )
        .join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
        .join(F.broadcast(s), li["l_suppkey"] == s["s_suppkey"])
        .join(F.broadcast(n), s["s_nationkey"] == n["n_nationkey"])
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("l_shipdate").cast("int").alias("o_year"),
        )
        .agg(F.sum(amount).cast("double").alias("profit"))
    )


@query(
    "q11_important_stock",
    f"""
    WITH {_PS_CTE},
    nat AS (
      SELECT s_suppkey FROM supplier JOIN nation ON s_nationkey = n_nationkey
      WHERE n_nationkey % 5 = 3
    ), val AS (
      SELECT ps_partkey,
             SUM(CAST(ps_supplycost * ps_availqty AS DECIMAL(18,4))) AS sv
      FROM partsupp JOIN nat ON ps_suppkey = s_suppkey
      GROUP BY ps_partkey
    )
    SELECT ps_partkey, CAST(sv AS DOUBLE) AS stock_value FROM val
    WHERE sv * 1000 > (SELECT SUM(sv) FROM val)
    """,
)
def q11_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 pattern: parts whose national stock value exceeds a
    fraction of the total. The scalar threshold is a second aggregation
    over the SAME grouped result (reused plan), broadcast back — one
    partsupp derivation feeding both sides. The threshold comparison
    stays in exact decimal on both engines (sv * 1000 > SUM(sv), no
    double SUM, no 0.001 rounding), so membership is bit-identical to
    the oracle."""
    ps = _synth_partsupp(spark, sf_dir)
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation").filter(F.col("n_nationkey") % 5 == 3)
    nat = s.join(F.broadcast(n), s["s_nationkey"] == n["n_nationkey"]).select("s_suppkey")
    val = (
        ps.join(F.broadcast(nat), ps["ps_suppkey"] == nat["s_suppkey"])
        .groupBy("ps_partkey")
        .agg(
            F.sum((F.col("ps_supplycost") * F.col("ps_availqty")).cast("decimal(18,4)"))
            .alias("sv")
        )
    )
    thr = val.agg(F.sum("sv").alias("__thr"))
    return (
        val.crossJoin(F.broadcast(thr))
        .filter(F.col("sv") * F.lit(1000) > F.col("__thr"))
        .select("ps_partkey", F.col("sv").cast("double").alias("stock_value"))
    )


@query(
    "q16_supplier_counts",
    f"""
    WITH {_PS_CTE}
    SELECT p_brand, p_type, p_size,
           CAST(COUNT(DISTINCT ps_suppkey) AS BIGINT) AS supplier_cnt
    FROM partsupp JOIN part ON p_partkey = ps_partkey
    WHERE p_brand <> 'Brand#45' AND p_type NOT LIKE 'MEDIUM%'
      AND p_size IN (1, 4, 7, 10, 15, 19, 23, 36, 45, 9)
    GROUP BY 1, 2, 3
    """,
)
def q16_supplier_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 pattern: distinct supplier count per part attribute
    bucket with brand/type/size exclusions (trimmed schema: no
    complaint-supplier anti-join — supplier has no comment column)."""
    ps = _synth_partsupp(spark, sf_dir)
    p = _t(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#45")
        & ~F.col("p_type").like("MEDIUM%")
        & F.col("p_size").isin(1, 4, 7, 10, 15, 19, 23, 36, 45, 9)
    )
    return (
        ps.join(F.broadcast(p), ps["ps_partkey"] == p["p_partkey"])
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("ps_suppkey").alias("supplier_cnt"))
    )


@query(
    "q20_excess_inventory",
    f"""
    WITH {_PS_CTE},
    shipped AS (
      SELECT l_partkey, l_suppkey,
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1995-01-01'
        AND l_shipdate < TIMESTAMP '1996-01-01'
      GROUP BY 1, 2
    )
    SELECT DISTINCT s_suppkey, s_name
    FROM supplier
    JOIN partsupp ON s_suppkey = ps_suppkey
    JOIN shipped ON l_partkey = ps_partkey AND l_suppkey = ps_suppkey
    WHERE CAST(ps_availqty AS DOUBLE) > 0.5 * qty
    """,
)
def q20_excess_inventory(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 pattern: suppliers holding more than half a year's
    shipped quantity of a part. The shipped CTE is a partial
    aggregation of lineitem keyed like partsupp — the one shuffle.
    Textbook Q20's part-name prefix filter is dropped for the same
    reason as Q9's (stacked selectivity empties the gate corpus); the
    semi-join-through-inventory shape is what's under test."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1995-01-01").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1996-01-01").cast("timestamp_ntz"))
    )
    shipped = li.groupBy("l_partkey", "l_suppkey").agg(
        F.sum(_dec("l_quantity")).cast("double").alias("qty")
    )
    ps = _synth_partsupp(spark, sf_dir)
    s = _t(spark, sf_dir, "supplier")
    return (
        s.join(ps, s["s_suppkey"] == ps["ps_suppkey"])
        .join(
            shipped,
            (shipped["l_partkey"] == ps["ps_partkey"])
            & (shipped["l_suppkey"] == ps["ps_suppkey"]),
        )
        .filter(F.col("ps_availqty").cast("double") > F.lit(0.5) * F.col("qty"))
        .select("s_suppkey", "s_name")
        .distinct()
    )
