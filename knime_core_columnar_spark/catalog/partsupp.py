"""partsupp TPC-H patterns (q2/q9/q11/q16/q20) over an IN-QUERY
synthesized partsupp table.

/root/testdata ships NO partsupp table, but TPC-H's partsupp is a pure
function of the (part, supplier) key spaces — dbgen assigns each part a
fixed small set of suppliers by key arithmetic and derives
availqty/supplycost from the keys. So BOTH the Spark query and the
DuckDB oracle construct the SAME deterministic partsupp inline (two
suppliers per part; the formula matches tests/test_partsupp.py's
fixture exactly), which makes all five patterns driver-checkable with
no extra input file:

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

Reference parity: these five patterns cover the partsupp joins of the
TPC-H derivative workloads the reference's columnar backend executes
(org.knime.core.data.columnar row-join/groupby surfaces); trimmed to
the testdata schema (no p_mfgr/s_comment columns).
"""

from __future__ import annotations

from collections.abc import Callable
from typing import Dict

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from knime_core_columnar_spark.catalog._registry import (  # noqa: F401
    ORACLES,
    QUERIES,
    _dec,
    _table_meta,
    _t,
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


def _partsupp_query(name: str, oracle: str):
    def deco(fn):
        QUERIES[name] = fn
        ORACLES[name] = oracle
        return fn

    return deco


@_partsupp_query(
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


@_partsupp_query(
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


@_partsupp_query(
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


@_partsupp_query(
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


@_partsupp_query(
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
